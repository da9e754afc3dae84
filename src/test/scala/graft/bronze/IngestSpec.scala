package graft.bronze

import graft.SparkSpec
import graft.config.ConfigLoader.SourceSpec
import java.nio.file.Files

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("csv source reads with header + schema inference") {
    val dir = Files.createTempDirectory("graft_csv")
    val f = dir.resolve("zones.csv")
    Files.writeString(f,
      "LocationID,Borough,Zone\n1,EWR,Newark Airport\n2,Queens,Jamaica Bay\n")
    val df = Ingest.readSource(spark, SourceSpec("file", f.toString, "csv"))
    df.count() shouldBe 2
    df.schema("LocationID").dataType.typeName shouldBe "integer"
  }

  test("jsonl source reads one doc per line with inferred schema") {
    val dir = Files.createTempDirectory("graft_jsonl")
    val f = dir.resolve("docs.jsonl")
    Files.writeString(f,
      """{"doc_id": 1, "text": "hello world", "source": "web"}
        |{"doc_id": 2, "text": "second doc", "source": "books"}
        |""".stripMargin)
    val df = Ingest.readSource(spark, SourceSpec("file", f.toString, "jsonl"))
    df.count() shouldBe 2
    df.columns.sorted shouldBe Array("doc_id", "source", "text")
    df.schema("doc_id").dataType.typeName shouldBe "long"
  }

  test("text source reads one line per row into a value column") {
    val dir = Files.createTempDirectory("graft_text")
    val f = dir.resolve("corpus.txt")
    Files.writeString(f, "first line\nsecond line\nthird\n")
    val df = Ingest.readSource(spark, SourceSpec("file", f.toString, "text"))
    df.count() shouldBe 3
    df.columns.toSeq shouldBe Seq("value")
  }

  test("unsupported source types raise like the reference") {
    an[UnsupportedOperationException] should be thrownBy
      Ingest.readSource(spark, SourceSpec("postgres", "jdbc:...", "parquet"))
  }

  test("dropAllNullColumns drops only 100%-null columns, one pass") {
    val df = Seq((1, Option.empty[String], Some(1.0)),
      (2, Option.empty[String], None)).toDF("id", "all_null", "some_null")
    val out = Ingest.dropAllNullColumns(df)
    out.columns.toSeq shouldBe Seq("id", "some_null")
  }

  test("ingestion metadata columns are appended") {
    val df = Ingest.withIngestionMetadata(Seq(1, 2).toDF("v"), "s3://x/f.parquet")
    df.columns should contain allOf ("_ingestion_timestamp", "_source_file")
    df.select("_source_file").distinct().head().getString(0) shouldBe "s3://x/f.parquet"
  }

  test("partitioned write enables partition pruning on read") {
    val dir = Files.createTempDirectory("graft_bronze").toString
    val df = Seq((1, 2023, 1), (2, 2023, 2), (3, 2024, 1))
      .toDF("v", "year", "month")
    Ingest.write(df, dir, "overwrite", Seq("year", "month"))
    val back = spark.read.parquet(dir).where("year = 2024")
    back.count() shouldBe 1
    val plan = back.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include("year")
  }
}
