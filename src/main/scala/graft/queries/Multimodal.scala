package graft.queries

import Shared._
import org.apache.spark.sql.functions._

/** Binary media: image decode, resize, perceptual hash and patchify. */
object Multimodal {

  val all: Seq[Query] = Seq(

    // multimodal plumbing: binary content -> per-partition stub decode
    Query("q38_multimodal_features", run = (s, dir) => {
      val media = graft.multimodal.MultimodalOps.asMedia(T(s, dir, "documents"))
      graft.multimodal.MultimodalOps.extractFeatures(media, dim = 4).toDF()
        .select(col("id"), col("n_bytes"),
          round(expr("cast(features[0] as double)"), 6).as("f0"),
          round(expr("cast(features[3] as double)"), 6).as("f3"))
    },
      oracle = """WITH pos AS (
        |  SELECT doc_id, ord(substr(text, p, 1)) AS byte, (p - 1) % 4 AS i
        |  FROM documents, UNNEST(generate_series(1, length(text))) AS t(p)),
        |agg AS (SELECT doc_id, i, SUM(byte) AS s FROM pos GROUP BY 1, 2)
        |SELECT d.doc_id AS id, length(d.text) AS n_bytes,
        |  ROUND(CAST(CAST(a0.s / 255.0 AS REAL) AS DOUBLE), 6) AS f0,
        |  ROUND(CAST(CAST(a3.s / 255.0 AS REAL) AS DOUBLE), 6) AS f3
        |FROM documents d
        |JOIN agg a0 ON a0.doc_id = d.doc_id AND a0.i = 0
        |JOIN agg a3 ON a3.doc_id = d.doc_id AND a3.i = 3""".stripMargin),

    // REAL image decode under the hash check: each doc gets a synthetic
    // 8×8 gray PNG whose pixel p is (doc_id·31+p) mod 256; extractFeatures
    // decodes it with javax.imageio and pools per-channel sums. The
    // emitted value is the integer RGB sum per stride bucket
    // (feature·3·255 rounded back — float-exact at this magnitude), which
    // the oracle recomputes from the pixel formula with no codec at all:
    // any decode defect breaks the hash.
    Query("q65_image_decode", run = (s, dir) => {
      import s.implicits._
      val media = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => graft.multimodal.MultimodalOps.Media(
          id, "image", graft.multimodal.MultimodalOps.syntheticPng(id, 8, 8), 8, 8, 0))
      graft.multimodal.MultimodalOps.extractFeatures(media, dim = 4).toDF()
        .select(col("id").as("doc_id"), posexplode(col("features")))
        .select(col("doc_id"), col("pos").cast("int").as("feat_idx"),
          expr("cast(round(col * 765) as bigint)").as("sum_rgb"))
    },
      // codec-free replay of the q65 synthetic-PNG pipeline: the pixel
      // content is the known pure function (doc_id·31 + p) mod 256, so the
      // pooled per-bucket RGB sums the javax.imageio decode produces are
      // recomputable straight from arithmetic — the PNG encode→decode
      // roundtrip is the only thing that can break this hash
      oracle = """SELECT d.doc_id, CAST(t.i % 4 AS INT) AS feat_idx,
        |  CAST(SUM(3 * ((d.doc_id * 31 + t.i) % 256)) AS BIGINT) AS sum_rgb
        |FROM documents d, range(64) t(i)
        |GROUP BY 1, 2""".stripMargin),

    // REAL image resize under the hash check, same synthetic-PNG scheme
    // as q65: 8×8 → nearest-neighbor 4×4 → decode → pooled sums. NN maps
    // dst pixel (x, y) to src (2x, 2y), so dst pixel p reads src pixel
    // 16·(p div 4) + 2·(p mod 4) — pure integer arithmetic the oracle
    // replays with no codec; any resize defect breaks the hash.
    Query("q66_image_resize", run = (s, dir) => {
      import s.implicits._
      val media = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val ops = graft.multimodal.MultimodalOps
          val small = ops.resizeNearest(ops.syntheticPng(id, 8, 8), 4, 4).get
          ops.Media(id, "image", small, 4, 4, 0)
        }
      graft.multimodal.MultimodalOps.extractFeatures(media, dim = 4).toDF()
        .select(col("id").as("doc_id"), posexplode(col("features")))
        .select(col("doc_id"), col("pos").cast("int").as("feat_idx"),
          expr("cast(round(col * 765) as bigint)").as("sum_rgb"))
    },
      // codec-free replay of the q66 resize pipeline: dst pixel p of the
      // 4×4 nearest-neighbor downscale reads src pixel 16*(p//4)+2*(p%4)
      // of the (doc_id·31 + p) mod 256 gray pattern
      oracle = """SELECT d.doc_id, CAST(t.i % 4 AS INT) AS feat_idx,
        |  CAST(SUM(3 * ((d.doc_id * 31 + (16 * (t.i // 4) + 2 * (t.i % 4))) % 256)) AS BIGINT) AS sum_rgb
        |FROM documents d, range(16) t(i)
        |GROUP BY 1, 2""".stripMargin),

    // Perceptual image hash (aHash) over REAL PNG decode: 16×16
    // synthetic gray PNGs → javax.imageio decode → integer-NN 8×8
    // downsample → strict-inequality mean threshold. The oracle
    // recomputes all 64 bits straight from the pixel formula with no
    // codec — decode, NN map, or threshold defects all break the hash
    Query("q102_image_phash", run = (s, dir) => {
      import s.implicits._
      val media = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => graft.multimodal.MultimodalOps.Media(
          id, "image", graft.multimodal.MultimodalOps.syntheticPng(id, 16, 16), 16, 16, 0))
      graft.multimodal.MultimodalOps.perceptualHashes(media)
        .select(col("id").as("doc_id"), col("phash"),
          (lit(64) - length(replace(col("phash"), lit("1"), lit("")))).cast("long").as("n_set"))
    },
      // codec-free replay of the q102 aHash: dst pixel p of the 16×16→8×8
      // NN downsample reads src pixel 32·(p//8) + 2·(p%8) of the
      // (doc_id·31 + idx) mod 256 gray pattern; luminance = 3·gray; bit p
      // = 64·v_p > Σv (strict integer)
      oracle = """WITH px AS (SELECT d.doc_id, t.p,
        |    3 * ((d.doc_id * 31 + (32 * (t.p // 8) + 2 * (t.p % 8))) % 256) AS v
        |  FROM documents d, range(64) t(p)),
        |tot AS (SELECT doc_id, SUM(v) AS total FROM px GROUP BY 1)
        |SELECT p.doc_id,
        |  string_agg(CASE WHEN 64 * p.v > t.total THEN '1' ELSE '0' END, '' ORDER BY p.p) AS phash,
        |  CAST(SUM(CASE WHEN 64 * p.v > t.total THEN 1 ELSE 0 END) AS BIGINT) AS n_set
        |FROM px p JOIN tot t USING (doc_id) GROUP BY 1""".stripMargin),

    // ViT-style patchify under a REAL decode: 16×16 synthetic PNG per
    // doc (pixel p = (doc_id·31+p) mod 256), 4×4 patches, exact-integer
    // per-patch sums/min/max — the oracle replays the pixel formula
    // with no codec; any decode/tiling defect breaks the hash
    Query("q194_image_patchify", run = (s, dir) => {
      import s.implicits._
      val media = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => graft.multimodal.MultimodalOps.Media(
          id, "image", graft.multimodal.MultimodalOps.syntheticPng(id, 16, 16), 16, 16, 0))
      graft.multimodal.MultimodalOps.patchFeatures(media, patch = 4)
        .select(col("id").as("doc_id"), col("patch_idx").cast("int").as("patch_idx"),
          col("sum_rgb"), col("min_rgb"), col("max_rgb"))
    },
      // codec-free replay of the q194 patchify: pixel p of the 16×16
      // grid lands in patch ((p//16)//4)*4 + (p%16)//4
      oracle = """SELECT d.doc_id,
        |  CAST(((t.i // 16) // 4) * 4 + (t.i % 16) // 4 AS INT) AS patch_idx,
        |  CAST(SUM(3 * ((d.doc_id * 31 + t.i) % 256)) AS BIGINT) AS sum_rgb,
        |  CAST(MIN(3 * ((d.doc_id * 31 + t.i) % 256)) AS BIGINT) AS min_rgb,
        |  CAST(MAX(3 * ((d.doc_id * 31 + t.i) % 256)) AS BIGINT) AS max_rgb
        |FROM documents d, range(256) t(i)
        |GROUP BY 1, 2""".stripMargin)
  )
}
