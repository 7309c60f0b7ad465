package graft

import java.nio.file.Files
import org.apache.spark.sql.AnalysisException
import graft.tools.JobCounter

/** `Tables.table` infers a file's schema once: a warm open runs no Spark
  * job, a rewritten file is inferred again, and a missing path fails as a
  * plain `spark.read.parquet` does.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("a warm open runs no job; a rewritten file is inferred again") {
    val dir = Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    val jobs = new JobCounter(spark.sparkContext)
    try {
      jobs.take()
      assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "s"))
      assert(jobs.take() >= 1, "the first open infers the schema")
      assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "s"))
      assert(jobs.take() == 0, "a warm open must run no Spark job")
      Seq((2L, "b", 3.0)).toDF("id", "s", "v").write.mode("overwrite").parquet(s"$dir/t.parquet")
      val reopened = Tables.table(spark, dir, "t")
      assert(reopened.columns.toSeq == Seq("id", "s", "v"))
      assert(reopened.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 3.0)))
    } finally jobs.close()
  }

  test("a missing path fails as a plain read does") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val plain = intercept[AnalysisException](spark.read.parquet(s"$dir/none.parquet"))
    val viaTables = intercept[AnalysisException](Tables.table(spark, dir, "none"))
    assert(viaTables.getCondition == plain.getCondition && viaTables.getMessage == plain.getMessage)
  }
}
