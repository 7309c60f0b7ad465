package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import graft.{GraftExtensions, SparkSpec}
import graft.operators.TextAnalysis.DefaultMerges

/** Pins what the functions built on [[StaticCall]] keep from the
  * hand-written expressions they replaced: the unaliased column name, the
  * SQL forms registered by [[GraftExtensions]], a physical plan that runs
  * the call inside whole-stage codegen, and an `explain` that does not
  * print a model table.
  */
class StaticCallSpec extends SparkSpec {

  /** Not a local relation, so the optimizer cannot fold the calls away. */
  private def input: DataFrame = spark.range(3).select(
    concat(lit("the cat sat on the mat "), col("id").cast("string")).as("text"),
    array(col("id").cast("float"), lit(1.0f)).as("embedding"))

  private val book = CentroidBook.single(Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))))

  /** (column name at the hand-written expression, builder, static method). */
  private val rows: Seq[(String, Column, String)] = Seq(
    ("shingle_stats(text)", ShingleStats(col("text"), 3), "statsRow"),
    ("word_gram_hash_set(text)", WordGramHashSet(col("text"), 2, md5 = true), "hashes"),
    ("rake_split_phrases(text)", RakeSplitPhrases(col("text"), Seq("the", "on")), "phrases"),
    ("char_entropy(text)", CharEntropy(col("text")), "compute"),
    ("nfc_normalize(text)", NfcNormalize(col("text")), "normalize"),
    ("dhash63(text)", DHash63(col("text")), "compute"),
    ("phash63(text)", PHash63(col("text")), "compute"),
    ("sorted_gram_id_set(text)", SortedGramIdSet(col("text"), 3), "gramIdSet"),
    ("winnow_fingerprint_set(text)", WinnowFingerprintSet(col("text"), 4, 3), "winnowFpSet"),
    ("bpe_encode(text)", BpeEncode(col("text"), DefaultMerges), "encode"),
    ("multi_pattern_counts(text)", MultiPatternCounts(col("text"), Seq("a", "at")), "counts"),
    ("pq_encode_codes(embedding)", PqEncodeCodes(col("embedding"), 2, book), "encode"))

  /** Static methods called inside a whole-stage-codegen projection. */
  private def codegenCalls(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      .flatMap(_.child.collect { case p: ProjectExec => p.projectList }).flatten
      .flatMap(_.collect { case s: StaticInvoke => s.functionName })

  for ((name, column, method) <- rows) {
    test(s"$name keeps its column name and runs $method inside whole-stage codegen") {
      val df = input.select(column)
      assert(df.columns.toSeq == Seq(name))
      assert(codegenCalls(df) == Seq(method), df.queryExecution.executedPlan.toString)
      assert(df.collect().length == 3)
    }
  }

  test("explain of bpe_encode does not print the merge table") {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(input.select(BpeEncode(col("text"), DefaultMerges)).explain(true))
    val plans = out.toString
    assert(plans.contains("bpe_encode(text"), plans)
    DefaultMerges.foreach { case (a, b) =>
      assert(!plans.contains(s"($a,$b)") && !plans.contains(s"$a $b="), s"merge ($a, $b) in:\n$plans")
    }
  }

  test("the SQL forms resolve through GraftExtensions with the same names") {
    // same session dance as GraftExtensionsSpec: extensions apply only
    // when a session is built, so build one on the shared context
    spark.sparkContext
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val ext = SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    try {
      ext.range(1).select(lit("the cafe\u0301 at").as("text")).createOrReplaceTempView("t")
      val df = ext.sql(
        """SELECT char_entropy(text), nfc_normalize(text),
          |  bpe_encode(text, array('t h', 'th e')), multi_pattern_counts(text, array('a', 'at'))
          |FROM t""".stripMargin)
      assert(df.columns.toSeq == Seq("char_entropy(text)", "nfc_normalize(text)",
        "bpe_encode(text)", "multi_pattern_counts(text)"))
      val r = df.head()
      assert(r.getStruct(0).getLong(0) == 12L)
      assert(r.getString(1) == "the caf\u00e9 at")
      assert(r.getSeq[String](2).head == "the")
      assert(r.getSeq[Long](3) == Seq(2L, 1L))
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prev.foreach(SparkSession.setDefaultSession)
    }
  }
}
