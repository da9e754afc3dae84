package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

class PlanDumpSpec extends SparkSpec {
  import spark.implicits._

  test("two dumps of a query with an eager checkpoint are byte-identical") {
    // the checkpoint runs a job while the frame is built, moving the
    // JVM-global expression and exchange counters between the two builds
    def query() = {
      val edges = spark.range(2000)
        .select(($"id" % 50).as("a"), ($"id" % 37).as("b"))
        .localCheckpoint()
      edges.join(edges.groupBy("a").agg(count(lit(1)).as("n")), "a")
        .groupBy("b").agg(sum("n").as("n"))
    }
    val dir = Files.createTempDirectory("plandump")
    val Seq(first, second) = Seq("first", "second").map { tag =>
      val f = dir.resolve(s"q_$tag.txt").toFile
      PlanDump.write(query(), f)
      new String(Files.readAllBytes(f.toPath), "UTF-8")
    }
    second shouldBe first
    first should include("[plan_id=1]")
    first should include("#1")
    // unrenumbered, the two builds' plans differ
    def raw() = query().queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    raw() should not be raw()
  }
}
