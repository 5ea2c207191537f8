package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val dir: String = {
    val d = Files.createTempDirectory("graft_sources").toString
    Files.writeString(Paths.get(d, "resume one.txt"), "plain text resume")
    Files.writeString(Paths.get(d, "other.txt"), "second file")
    Files.write(Paths.get(d, "cv.pdf"),
      Array[Byte](0x25, 0x50, 0x44, 0x46) ++ "Hello PDF world".getBytes ++ Array[Byte](0, 1))
    d
  }

  test("readWholeText: one row per file, whole content, sanitized names") {
    val out = Sources.readWholeText(spark, s"$dir/*.txt")
      .collect().map(r => (r.getString(1), r.getString(2))).toMap
    assert(out == Map("resume_one.txt" -> "plain text resume",
      "other.txt" -> "second file"))
  }

  test("loadDocuments dispatches on extension; stub extracts pdf text") {
    val out = Sources.loadDocuments(spark, s"$dir/*")
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3))).toList
    val byName = out.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byName("resume_one.txt") == (("txt", "plain text resume")))
    assert(byName("cv.pdf")._1 == "pdf")
    assert(byName("cv.pdf")._2.contains("Hello PDF world"))
  }

  test("unknown extension raises in strict mode, dropped otherwise") {
    val d2 = Files.createTempDirectory("graft_bad").toString
    Files.writeString(Paths.get(d2, "data.xyz"), "???")
    val ex = intercept[Exception] {
      Sources.loadDocuments(spark, s"$d2/*").collect()
    }
    assert(ex.getMessage.contains("Unsupported file format") ||
      Option(ex.getCause).exists(_.getMessage.contains("Unsupported file format")))
    assert(Sources.loadDocuments(spark, s"$d2/*", strict = false).count() == 0)
  }

  test("sanitizeFilename mirrors secure_filename behavior") {
    import spark.implicits._
    val out = Seq("a b/c.txt", "ok-file_1.pdf", "we?ird*.doc").toDF("n")
      .select(Sources.sanitizeFilename(col("n"))).as[String].collect().toSeq
    assert(out == Seq("a_b_c.txt", "ok-file_1.pdf", "we_ird_.doc"))
  }

  test("schema-explicit csv/json roundtrip") {
    val d3 = Files.createTempDirectory("graft_fmt").toString
    Files.writeString(Paths.get(d3, "t.csv"), "id,name\n1,alpha\n2,beta\n")
    Files.writeString(Paths.get(d3, "t.json"), "{\"id\":3,\"name\":\"gamma\"}\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val csv = Sources.readCsv(spark, s"$d3/t.csv", schema)
    val json = Sources.readJson(spark, s"$d3/t.json", schema)
    val all = csv.unionByName(json).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(all == Set((1L, "alpha"), (2L, "beta"), (3L, "gamma")))
  }

  lazy val jsonlDir: String = {
    val d = Files.createTempDirectory("graft_jsonl").toString
    Files.writeString(Paths.get(d, "corpus.jsonl"),
      """{"doc_id":1,"text":"good row"}
        |{"doc_id":2 BROKEN
        |{"doc_id":3,"text":"another good row"}
        |""".stripMargin)
    d
  }
  val jsonlSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  test("jsonl permissive mode quarantines corrupt lines as data") {
    val out = Sources.readJsonl(spark, s"$jsonlDir/corpus.jsonl", jsonlSchema)
    val good = out.where(col("_corrupt").isNull)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(good == Set((1L, "good row"), (3L, "another good row")))
    // Spark disallows projecting ONLY the corrupt column from a raw JSON
    // scan — keep a data column in the projection
    val bad = out.where(col("_corrupt").isNotNull)
      .select(col("doc_id"), col("_corrupt"))
      .collect().map(_.getString(1))
    assert(bad.toList == List("""{"doc_id":2 BROKEN"""))
  }

  test("SampleCorpus round-trips: loadDocuments over the generated corpus " +
    "yields exactly the expected-text contract (the q_binary_ingest gate)") {
    val dir = graft.sources.SampleCorpus.ensure()
    val got = Sources.loadDocuments(spark, s"$dir/*")
      .select(col("file_name"), col("text"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == graft.sources.SampleCorpus.expected.toMap)
    // the declared query projects the oracle-compared shape
    val q = graft.queries.Text.binaryIngest(spark, "unused")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(q.toSeq == graft.sources.SampleCorpus.expected
      .map { case (n, t) => (n, t.length.toLong) }.sortBy(_._1))
  }

  test("jsonl dropMalformed drops bad lines; failFast fails the read") {
    val dropped = Sources.readJsonl(spark, s"$jsonlDir/corpus.jsonl",
      jsonlSchema, mode = "DROPMALFORMED")
    assert(dropped.count() == 2 && !dropped.columns.contains("_corrupt"))
    assertThrows[Exception] {
      Sources.readJsonl(spark, s"$jsonlDir/corpus.jsonl",
        jsonlSchema, mode = "FAILFAST").collect()
    }
  }
}
