package graft

import graft.cli.DataIntegration
import graft.etl.Datasets
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.Charset
import java.nio.file.{Files, Path}

/** One test per reference dataset dialect (the data_integration/datasets
  * modules), each over a synthesized raw fixture in the dialect's exact
  * encoding / separator / quoting, plus the composed convert -> map_URIs
  * -> enrich_data pipeline over a fixture transport (no network).
  */
class DatasetsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def dir(prefix: String): Path = Files.createTempDirectory(prefix)
  private def write(p: Path, name: String, content: String,
                    cs: String = "UTF-8"): Unit =
    Files.write(p.resolve(name), content.getBytes(Charset.forName(cs)))

  test("ml-100k dialect: | latin-1 headerless, title/year extraction (movielens.py:187-283)") {
    val d = dir("ml100k")
    val genres = Seq.fill(19)("0").mkString("|")
    write(d, "u.item",
      s"1|Saint, The (1997)|01-Jan-1997|||$genres\n" +
      s"2|Léon (1994)|01-Jan-1994|||$genres\n", "ISO-8859-1")
    write(d, "u.user", "1|24|M|technician|85711\n2|53|F|other|94043\n", "ISO-8859-1")
    write(d, "u.data", "1\t2\t3\t881250949\n2\t1\t5\t891717742\n", "ISO-8859-1")
    val ds = Datasets.MovieLens100k
    val items = ds.items(spark, d.toString).get.orderBy("item_id").collect()
    assert(items.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("1", "The Saint", "1997"), ("2", "Léon", "1994")))
    val users = ds.users(spark, d.toString).get.orderBy("user_id").collect()
    assert(users.head.getString(3) == "technician")
    val ratings = ds.ratings(spark, d.toString).get.orderBy("user_id").collect()
    assert(ratings.head.getDouble(2) == 3.0 && ratings.head.getDouble(3) == 881250949.0)
    // map query: year category + unanchored-end regex with punctuation kept
    val q = ds.mapQueries(ds.items(spark, d.toString).get).get
      .filter(org.apache.spark.sql.functions.col("item_id") === "1").first()
    assert(q.getString(1).contains("dbr:Category:1997_films"))
    assert(q.getString(1).contains("\"^The.*Saint\""))
    assert(q.getString(2) == "http://dbpedia.org/resource/The Saint")
  }

  test("ml-1m dialect: multi-char :: separator (movielens.py:285-375)") {
    val d = dir("ml1m")
    write(d, "movies.dat", "1::Toy Story (1995)::Animation|Children's\n", "ISO-8859-1")
    write(d, "users.dat", "1::F::1::10::48067\n", "ISO-8859-1")
    write(d, "ratings.dat", "1::1::5::978300760\n", "ISO-8859-1")
    val ds = Datasets.MovieLens1M
    val item = ds.items(spark, d.toString).get.first()
    assert(item.getString(0) == "1" && item.getString(1) == "Toy Story" && item.getString(2) == "1995")
    assert(ds.users(spark, d.toString).get.first().getString(1) == "F")
    val r = ds.ratings(spark, d.toString).get.first()
    assert(r.getString(1) == "1" && r.getDouble(2) == 5.0)
  }

  test("book-crossing dialect: ; CP1252 escaped quotes, image columns dropped (book-crossing.py:48-55)") {
    val d = dir("bx")
    write(d, "BX-Books.csv",
      "\"ISBN\";\"Book-Title\";\"Book-Author\";\"Year-Of-Publication\";\"Publisher\";\"Image-URL-S\";\"Image-URL-M\";\"Image-URL-L\"\n" +
      "\"0195153448\";\"Classical Mythology\";\"Mark P. O. Morford\";\"2002\";\"Oxford University Press\";\"u1\";\"u2\";\"u3\"\n" +
      "\"0002005018\";\"Clara Callan: \\\"A Novel\\\"\";\"Richard Bruce Wright\";\"2001\";\"HarperFlamingo\";\"u1\";\"u2\";\"u3\"\n",
      "windows-1252")
    val ds = Datasets.BookCrossing
    val items = ds.items(spark, d.toString).get.orderBy("item_id").collect()
    assert(items.length == 2 && items.head.schema.fieldNames.toSeq ==
      Seq("item_id", "title", "author", "year", "publisher"))
    assert(items(0).getString(1) == "Clara Callan: \"A Novel\"") // \" unescaped
    // WrittenWork map query, ^-anchored, punctuation stripped
    val q = ds.mapQueries(ds.items(spark, d.toString).get).get
      .filter(org.apache.spark.sql.functions.col("item_id") === "0195153448").first()
    assert(q.getString(1).contains("dbo:WrittenWork"))
    assert(q.getString(1).contains("\"^Classical.*Mythology\""))
  }

  test("steam dialect: items-only, folded double-anchored regex (steam.py:47-99)") {
    val d = dir("steam")
    write(d, "steam_games.csv",
      "app_id,title,date_release,price\n10,Café Noir!,2001-11-01,9.99\n")
    val ds = Datasets.Steam
    val item = ds.items(spark, d.toString).get.first()
    assert(item.getString(0) == "10" && item.getString(1) == "Café Noir!")
    assert(ds.ratings(spark, d.toString).isEmpty) // steam.py implements items only
    val q = ds.mapQueries(ds.items(spark, d.toString).get).get.first()
    // ascii-fold drops é, punctuation strip drops !, both anchors present
    assert(q.getString(1).contains("\"^Caf.*Noir$\""))
    assert(q.getString(1).contains("dbo:VideoGame"))
  }

  test("douban dialect: surrogate-key dims joined back to ratings (douban-movie.py:37-76)") {
    val d = dir("douban")
    write(d, "DMSC.csv",
      "ID,Movie_Name_CN,Movie_Name_EN,Crawl_Date,Number,Username,Date,Star,Comment,Like\n" +
      "0,复仇者联盟,Avengers,2017-01-22,1,alice,2012-05-13,4,great,28\n" +
      "1,复仇者联盟,Avengers,2017-01-22,2,bob,2012-05-14,5,wow,13\n" +
      "2,变形金刚,Transformers,2017-01-22,3,alice,2012-07-01,2,meh,2\n")
    val ds = Datasets.DoubanMovie
    val items = ds.items(spark, d.toString).get.orderBy("item_id").collect()
    assert(items.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("0", "Avengers", "复仇者联盟"), ("1", "Transformers", "变形金刚")))
    val users = ds.users(spark, d.toString).get.orderBy("user_id").collect()
    assert(users.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("0", "alice"), ("1", "bob")))
    val ratings = ds.ratings(spark, d.toString).get
      .orderBy("user_id", "item_id").collect()
    assert(ratings.map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq(("0", "0", 4.0), ("0", "1", 2.0), ("1", "0", 5.0)))
  }

  test("lastfm dialect: tab-separated, users from ratings, social pairs (lastfm.py:105-215)") {
    val d = dir("lastfm")
    write(d, "artists.dat", "id\tname\turl\tpictureURL\n1\tMetallica\tu\tp\n2\tQueen\tu\tp\n")
    write(d, "user_artists.dat", "userID\tartistID\tweight\n10\t1\t1337\n11\t2\t42\n10\t2\t7\n")
    write(d, "user_friends.dat", "userID\tfriendID\n10\t11\n")
    val ds = Datasets.LastFM
    assert(ds.items(spark, d.toString).get.count() == 2)
    assert(ds.users(spark, d.toString).get.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("10", "11")) // distinct users of the rating scan
    val r = ds.ratings(spark, d.toString).get.orderBy("user_id", "item_id").collect()
    assert(r.length == 3 && r.head.getDouble(2) == 1337.0)
    val s = ds.social(spark, d.toString).get.first()
    assert(s.getString(0) == "10" && s.getString(1) == "11")
    val q = ds.mapQueries(ds.items(spark, d.toString).get).get.first()
    assert(q.getString(1).contains("dbo:MusicalArtist") && q.getString(1).contains("dbo:Band"))
  }

  test("yelp dialect: JSONL, True-valued attributes, friends explode (yelp.py:71-143)") {
    val d = dir("yelp")
    write(d, "yelp_academic_dataset_business.json",
      """{"business_id":"b1","name":"Cafe","address":"1 Main","city":"SF","state":"CA","postal_code":"94000","latitude":37.0,"longitude":-122.0,"stars":4.5,"review_count":10,"is_open":1,"attributes":{"GoodForKids":"True","WiFi":"False"},"categories":"Food, Coffee & Tea"}""" + "\n")
    write(d, "yelp_academic_dataset_user.json",
      """{"user_id":"u1","name":"Ann","review_count":3,"yelping_since":"2012-01-01","useful":1,"funny":0,"cool":2,"elite":"2012,2013","fans":1,"average_stars":3.5,"friends":"u2, u3"}""" + "\n")
    write(d, "yelp_academic_dataset_review.json",
      """{"review_id":"r1","user_id":"u1","business_id":"b1","stars":5.0,"useful":0,"funny":0,"cool":0,"text":"good","date":"2015-01-01"}""" + "\n")
    val ds = Datasets.Yelp
    val item = ds.items(spark, d.toString).get.first()
    assert(item.getSeq[String](item.fieldIndex("attributes")) == Seq("GoodForKids")) // P9 True-only
    assert(item.getSeq[String](item.fieldIndex("categories")) == Seq("Food", "Coffee & Tea"))
    val user = ds.users(spark, d.toString).get.first()
    assert(user.getSeq[String](user.fieldIndex("elite_years")) == Seq("2012", "2013"))
    assert(ds.ratings(spark, d.toString).get.first().getAs[Double]("rating") == 5.0)
    val social = ds.social(spark, d.toString).get.collect()
    assert(social.map(_.getString(1)).sorted.toSeq == Seq("u2", "u3"))
  }

  test("convert -> map_URIs -> enrich_data pipeline over fixture transport (data_integration.py:34-45)") {
    val in = dir("dii")
    val out = dir("dio")
    val genres = Seq.fill(19)("0").mkString("|")
    write(in, "u.item", s"1|Toy Story (1995)|01-Jan-1995|||$genres\n", "ISO-8859-1")
    write(in, "u.user", "1|24|M|technician|85711\n", "ISO-8859-1")
    write(in, "u.data", "1\t1\t5\t881250949\n", "ISO-8859-1")

    // map fixture: two candidate URIs; fuzzy top-1 must pick Toy_Story
    val mapBody =
      """{"results":{"bindings":[
        |{"film":{"value":"http://dbpedia.org/resource/Toy_Story"}},
        |{"film":{"value":"http://dbpedia.org/resource/Toy_Soldiers"}}]}}""".stripMargin
    // enrich fixture: SPARQL CSV with ::-concatenated lists
    val enrichBody =
      "abstract,producer,distributor,writer,cinematography,subject,starring,director\n" +
      "\"A 1995 film, by Pixar\",\"P1::P2\",\"\",\"W1\",\"\",\"Cat1::Cat2\",\"S1\",\"D1\"\n"
    val report = DataIntegration.run(spark, "ml-100k", in.toString, out.toString,
      convertItem = true, convertUser = true, convertRating = true,
      mapUris = true, enrichData = true,
      transport = (_, _, _) => mapBody,
      enrichTransport = (_, q, _) => { assert(q.contains("Toy_Story")); enrichBody })
    // match-rate report (A5): 1/1 matched
    val rep = report.get.first()
    assert(rep.getLong(0) == 1L && rep.getLong(1) == 1L && rep.getDouble(2) == 100.0)
    // standardized outputs readable through the typed-header schema
    val items = graft.schema.TypedCsv.read(spark, s"$out/item.csv").collect()
    assert(items.head.getString(1) == "Toy Story")
    val mapped = graft.schema.TypedCsv.read(spark, s"$out/map.csv").first()
    assert(mapped.getString(1) == "http://dbpedia.org/resource/Toy_Story")
    val enriched = graft.schema.TypedCsv.read(spark, s"$out/enriched.csv").first()
    assert(enriched.getSeq[String](enriched.fieldIndex("producer")) == Seq("P1", "P2"))
    assert(enriched.getAs[String]("abstract") == "A 1995 film, by Pixar")
  }

  test("map_URIs queries each item once, and its report counts match map.csv") {
    val in = dir("dmi")
    val out = dir("dmo")
    val genres = Seq.fill(19)("0").mkString("|")
    write(in, "u.item", Seq("Toy Story (1995)", "Heat (1995)", "Babe (1995)").zipWithIndex
      .map { case (t, i) => s"${i + 1}|$t|01-Jan-1995|||$genres\n" }.mkString, "ISO-8859-1")
    val hit =
      """{"results":{"bindings":[{"film":{"value":"http://dbpedia.org/resource/Toy_Story"}}]}}"""
    val miss = """{"results":{"bindings":[]}}"""
    MapQueryCount.calls.set(0)
    val report = DataIntegration.run(spark, "ml-100k", in.toString, out.toString,
      convertItem = true, mapUris = true,
      transport = (_, q, _) => {
        MapQueryCount.calls.incrementAndGet()
        if (q.contains("Toy")) hit else miss
      })
    val rep = report.get.collect().head // a caller reading the report
    assert(MapQueryCount.calls.get == 3, "one SPARQL query per item, whoever reads the result")
    val file = graft.schema.TypedCsv.read(spark, s"$out/map.csv")
    assert(rep.getLong(0) == file.count() && rep.getLong(0) == 3L)
    assert(rep.getLong(1) == file.filter(org.apache.spark.sql.functions.col("URI").isNotNull).count())
    assert(rep.getLong(1) == 1L)
  }
}

/** Counts transport calls across the local executor threads. */
object MapQueryCount {
  val calls = new java.util.concurrent.atomic.AtomicInteger()
}
