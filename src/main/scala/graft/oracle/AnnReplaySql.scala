package graft.oracle

/** DuckDB replays for the seeded ANN index queries — the r11 verdict's
  * golden-to-replay conversion (q22 cosine-LSH, q52 IVF). Both were
  * probed cell-exact against live engine output at all three scales
  * before the goldens were retired.
  *
  * q22 (`CosineKnn.approxTopK`): Spark ML's BucketedRandomProjectionLSH
  * hyperplanes are a pure function of (seed=42, numHashTables=4,
  * dim=64) — independent of the data — so the four random unit vectors
  * are carried here as full-precision constants (extracted from the
  * fitted model's randMatrix on Spark 4.1.2; regenerate with
  * `Test/runMain graft.oracle.LshPlanes` if the embedding dim or Spark's
  * RNG ever changes). Everything downstream — normalize, bucket ids
  * floor(u·v / 0.25), the any-table candidate join, the Euclidean
  * admission d ≤ sqrt(2 − 2·targetCos), score 1 − d²/2, the per-query
  * rank — is recomputed by DuckDB from the raw parquet.
  *
  * q52 (`CosineKnn.ivfTopK`): the coarse quantizer is MLlib KMeans,
  * whose k-means internals are not SQL-replayable; the oracle instead
  * embeds the centroids THE SAME RUN fit (observed via
  * `CosineKnn.lastIvfCentroidsTl`, stashed by the q52 query fn) and
  * DuckDB independently recomputes assignment (argmin |c|² − 2·v·c),
  * the nProbe probe ranking, candidate join, zero-vector sentinel
  * scoring, and the top-k rank. Self-consistent by construction: the
  * constants come from the run under test, so a layout-induced
  * centroid change can never break the compare the way it would break
  * a committed golden.
  */
object AnnReplaySql {

  private val U0 = Seq(
    0.12949674375780473,0.10426463032006292,-0.10771877038736019,-0.1255372363345624,
    0.031864015961875526,0.07763903148140297,-0.09267625761376243,-0.15838508708815516,
    -0.02165389051618035,0.16854269109352538,0.09098491965165977,-0.013780063771881217,
    0.15995718784720656,-0.07260502199283608,-0.13717864034381758,0.040117573088542115,
    -0.05560766029690286,0.062454079998983995,-0.1364876173085817,0.036404539477744795,
    0.17590650082725473,0.049731132116372166,0.054615194300076435,0.17233239373966974,
    -0.03139385289904706,-0.009519024250218314,0.1424166108604675,-0.03688726820688779,
    -0.019651834133742857,-0.21077117424649872,0.16146554421004417,-0.15465212141720716,
    -0.2228011893040183,-0.10417242087441117,-0.2890542789985285,-0.18495762435445184,
    -0.013835841572937869,0.1461959233590042,-0.030521449505394982,0.029200581252854782,
    -0.036279601655707094,-0.2005551336051944,-0.05482524727370144,-0.057835009365983805,
    0.1266353384984892,-0.004643580505872421,-0.1256144906681653,0.21119488292759514,
    0.1299317417234659,-0.12005833484317877,0.12163713866691228,-0.21906770558940117,
    0.03413749349242529,0.02807014081433207,0.15946395092753893,-0.17239926149026796,
    0.03072450601327282,0.06364796961267483,-0.0600848460661747,0.06112732611580623,
    0.25088844927734233,-0.07177726126717898,-0.21355986809913746,0.04383816738170152)

  private val U1 = Seq(
    0.04324546763126771,-0.11962500074477538,-3.5574217068864294E-4,-0.06290591868245524,
    -0.07273002664444872,-0.0025350541717712814,0.21857258132453322,-0.14693412707906914,
    0.0788130791434375,-0.020660480606120322,0.08803435331876719,0.1628253116189154,
    0.11732429428317512,0.029428239153553953,0.12206683174463157,-0.09813315096329368,
    0.10664634497642193,-0.033704244780785965,-0.10137999150787966,-0.2474720212826488,
    -0.24704059522100938,-0.07652882574249703,-0.054283423827248864,0.03297680839243598,
    -0.06382884375871063,0.05922319081184571,-0.05927320551904356,0.006057363702502042,
    0.09351308498819275,-0.036077657341815436,0.010717326609066753,0.16711271970966457,
    0.1013363222522435,0.2285620361942841,0.019371121326215754,-0.1320159695590914,
    0.02664435711204152,0.11895237041886506,0.20064190094781076,-0.18627509281145738,
    -0.2531012452486127,0.18164191525820697,-0.07428222129311542,0.09882760906688597,
    0.20886369229852003,0.14971879602496457,-0.025493897515617762,-0.29922613277350923,
    0.05837903834430213,0.08717337513955833,-0.09887300181280122,0.15919954423297913,
    0.23621567316506958,0.008946170086847383,0.17188648855417268,-0.07733534461311733,
    0.10204751223628503,0.05543424240252224,-0.062259946907702424,0.05496753367660298,
    0.08799923905758567,0.11509781648299502,0.03937942153452648,0.04267392826482055)

  private val U2 = Seq(
    0.22535995473524006,0.08468601690003899,-0.12090235717915983,0.012037035560567481,
    0.05653929989547701,-0.19784366335303274,0.1515765260689117,-0.07726288997430493,
    0.09069712513868436,-0.01850775179851565,0.09420127205578384,-0.04432439861428029,
    -0.010629309810410568,-0.06194936947753674,0.0357412195871346,-0.11595951529739636,
    -0.06624457677123272,0.27123667771911963,0.015331531868631778,0.1871371166142488,
    0.04465499294074912,0.08888672766398281,0.09594567809783479,-0.07089928799994676,
    -0.23457091437136124,0.009604915537812434,0.01945671137699457,-0.10214125471448682,
    -0.21790520325684196,0.1638345475765427,0.055456209262321,0.16443921269983675,
    0.03745395419590926,0.12401790285189034,0.0886650279508915,-0.029382511835341785,
    0.04390435464347257,0.10202408760518071,0.18064985547214532,0.13747465326312655,
    0.04518051916463189,0.1409845410771191,0.003338958948527326,-0.08123885974532549,
    -0.0017409007440788821,-0.13338295982400736,-0.0028185053398772993,0.19979634198148802,
    0.13939946082109098,-0.12874306733279453,0.029588120684531677,0.15535201312812244,
    0.010599875757080138,-0.1330460722446027,0.18034472263476176,0.040046209069542905,
    -0.0507056227171669,-0.20676253064762,0.11012487642391114,-0.10545618963525343,
    0.19875023092077385,0.09380610937437692,0.13795962125376615,0.2927722551070435)

  private val U3 = Seq(
    -0.06374135683995162,-0.09219503246981259,0.20387147163340155,-0.10935797479905664,
    -0.04308987473913211,-0.22053735363025692,-0.0689505866185994,-0.335906687103947,
    0.039147854997285396,-0.1496523981120987,-0.22241719602183366,0.010556593479734708,
    -0.17237743213626663,0.09042793042560178,-0.16716014790388486,0.1623874130871556,
    0.0016294745422463736,0.0852497427913705,-0.17153256310120862,0.10578917251323942,
    0.0793227971835568,0.016029777279764824,0.05042081026847254,-0.07556934199188059,
    0.05626682220005956,-0.10333901194035604,0.008307604126977912,-0.09633777979600622,
    0.1532688478369975,0.11940703413743275,0.16071269411711286,-0.009202061603050597,
    -0.07346227785473011,0.1364132505370998,0.12256128954494584,-0.08972364033338956,
    0.11501214463815192,-0.328871752830656,0.054044983219077775,0.052742933259140166,
    0.10928698480434651,-0.045185470946430495,0.13894898075688086,-0.030477763874640906,
    0.020215754742539182,0.08675717574067274,0.047838716967836085,0.012605032955128678,
    -0.16082285233359414,-0.03444399726472531,-0.07829696607501378,-0.01900287098000823,
    0.244327756207043,0.23932680858694025,-0.10052570582133381,-0.01990727013443709,
    0.01781187785973467,-0.1183833051902047,0.02475355910216522,0.0938850567409529,
    -0.05664336305195141,-0.023485688576799755,0.10434324461021213,0.17995762924893127)

  private def lit(vs: Seq[Double]): String =
    "[" + vs.map(v => java.lang.Double.toString(v)).mkString(",") + "]::DOUBLE[]"

  /** Static q22 replay (hyperplanes are data-independent constants). */
  def q22Sql: String = {
    val planes = Seq(U0, U1, U2, U3).zipWithIndex
      .map { case (v, i) => s"($i, ${lit(v)})" }.mkString(",\n       ")
    s"""WITH u AS (SELECT * FROM (VALUES
       |$planes) AS t(tbl, uvec)),
       |e AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |n AS (SELECT id, list_transform(v, x ->
       |        x / sqrt(list_reduce(list_transform(v, y -> y*y), (a,b) -> a+b))) AS f FROM e),
       |h AS (SELECT id, tbl, floor(list_dot_product(f, uvec) / 0.25) AS b FROM n, u),
       |cand AS (SELECT DISTINCT hq.id AS query_id, hi.id AS item_id
       |         FROM h hq JOIN h hi ON hq.tbl = hi.tbl AND hq.b = hi.b
       |         WHERE hq.id < 50 AND hq.id <> hi.id),
       |scored AS (SELECT c.query_id, c.item_id,
       |             sqrt(list_reduce(list_transform(list_zip(nq.f, ni.f),
       |               p -> (p[1] - p[2])*(p[1] - p[2])), (a,b) -> a+b)) AS d
       |           FROM cand c JOIN n nq ON nq.id = c.query_id JOIN n ni ON ni.id = c.item_id),
       |adm AS (SELECT query_id, item_id, 1.0 - d*d/2.0 AS score
       |        FROM scored WHERE d <= sqrt(2.0 - 2.0*0.2)),
       |r AS (SELECT query_id, item_id,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, item_id) AS rank
       |      FROM adm)
       |SELECT query_id, item_id, rank FROM r WHERE rank <= 5""".stripMargin
  }

  /** q52 replay parameterized by the run's fitted centroids. `cnorm2`
    * accumulates left-to-right exactly like the kernel's
    * `arr.map(x => x*x).sum`. */
  def q52Sql(centroids: Array[(Int, Array[Double])], nProbe: Int): String = {
    val rows = centroids.sortBy(_._1).map { case (i, c) =>
      var n2 = 0.0
      c.foreach(x => n2 += x * x)
      s"($i, ${lit(c.toIndexedSeq)}, ${java.lang.Double.toString(n2)})"
    }.mkString(",\n       ")
    s"""WITH c AS (SELECT * FROM (VALUES
       |$rows) AS t(list_id, cvec, cnorm2)),
       |e AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |n AS (SELECT id,
       |        list_reduce(list_transform(v, y -> y*y), (a,b) -> a+b) AS n2,
       |        list_transform(v, x -> CASE
       |          WHEN list_reduce(list_transform(v, y -> y*y), (a,b) -> a+b) = 0.0 THEN 0.0
       |          ELSE x / sqrt(list_reduce(list_transform(v, y -> y*y), (a,b) -> a+b)) END) AS f
       |      FROM e),
       |cd AS (SELECT n.id, c.list_id, c.cnorm2 - 2.0*list_dot_product(n.f, c.cvec) AS cdist
       |       FROM n, c),
       |assigned AS (SELECT id AS item_id, list_id FROM (
       |    SELECT id, list_id, ROW_NUMBER() OVER (PARTITION BY id ORDER BY cdist, list_id) AS rn
       |    FROM cd) WHERE rn = 1),
       |probed AS (SELECT id AS query_id, list_id FROM (
       |    SELECT id, list_id, ROW_NUMBER() OVER (PARTITION BY id ORDER BY cdist, list_id) AS rn
       |    FROM cd WHERE id < 50) WHERE rn <= $nProbe),
       |cand AS (SELECT DISTINCT p.query_id, a.item_id
       |         FROM probed p JOIN assigned a USING (list_id)
       |         WHERE p.query_id <> a.item_id),
       |scored AS (SELECT cand.query_id, cand.item_id,
       |    CASE WHEN nq.n2 = 0.0 OR ni.n2 = 0.0 THEN -2.0
       |         ELSE list_dot_product(nq.f, ni.f) END AS score
       |  FROM cand JOIN n nq ON nq.id = cand.query_id JOIN n ni ON ni.id = cand.item_id),
       |r AS (SELECT query_id, item_id,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, item_id) AS rank
       |      FROM scored)
       |SELECT query_id, item_id, rank FROM r WHERE rank <= 5""".stripMargin
  }
}
