package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** [[Relational.diagonalPairStats]] (the tiled STOMP kernel) pinned to the
  * relational spelling it replaced, on the sf0.01 events, for every
  * parameterization the matrix-profile family runs: q59/q61/q64/q66 and
  * the published profile (L=8, stride=4), q60 (the same pair stats under
  * the z-normalized tail), q72 (every 4th diagonal) and q73 (the
  * first-half old_max floor). Every consumer reads only these columns, so
  * equal pair stats mean equal query outputs.
  */
class StompKernelSpec extends SparkSpec {
  private val sf001 = sfDir.stripSuffix("sf0.001") + "sf0.01"

  private def rows(df: DataFrame): Seq[Seq[Long]] =
    df.select("user_id", "s1", "s2", "qt", "sx1", "sq1", "sx2", "sq2").collect()
      .map(r => (0 until 8).map(r.getLong)).toSeq
      .sortBy(r => (r(0), r(1), r(2)))

  private def oldMaxOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val half = events.withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") * 2 <= col("cnt"))
    Relational.tsMatrixProfileCore(half, L = 8, stride = 4)
      .groupBy(col("user_id")).agg(max(col("start")).as("old_max"))
  }

  test("kernel == relational spelling at sf0.01 for q59-q61/q64/q66, q72's lattice and q73's floor") {
    val events = Tables.events(spark, sf001)
    for (e <- Seq(1, 4)) {
      val got = rows(Relational.diagonalPairStats(events, L = 8, stride = 4, sampleDiagEvery = e))
      val want = rows(StompReference.relational(events, L = 8, stride = 4, sampleDiagEvery = e))
      assert(got.nonEmpty && got == want, s"E=$e: ${got.size} kernel rows vs ${want.size}")
    }
    val oldMax = oldMaxOf(events).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val floor = spark.createDataFrame(oldMax.toSeq).toDF("user_id", "old_max")
    val got = rows(Relational.diagonalPairStats(events, L = 8, stride = 4, newFrom = Some(floor)))
    // the relational spelling also emits partial sums for old pairs,
    // which q73 dropped with this filter
    val want = rows(StompReference.relational(events, L = 8, stride = 4, newFrom = Some(floor)))
      .filter(r => oldMax.get(r(0)).forall(r(2) > _))
    assert(oldMax.nonEmpty && got.nonEmpty && got == want,
      s"q73 floor: ${got.size} kernel rows vs ${want.size}")
  }

  test("small chunks: many tiles per user give the same pair stats") {
    val events = Tables.events(spark, sf001)
    val want = rows(StompReference.relational(events, L = 8, stride = 4))
    for (c <- Seq(4, 13)) {
      val got = rows(Relational.diagonalPairStats(events, L = 8, stride = 4, chunk = c))
      assert(got == want, s"C=$c: ${got.size} kernel rows vs ${want.size}")
    }
  }

  test("the 2-decimal guard still raises") {
    import spark.implicits._
    val bad = Seq((1L, 1L, "click", 1.001)).toDF("user_id", "event_id", "event_type", "value")
    val e = intercept[Exception](Relational.diagonalPairStats(bad, L = 1, stride = 1).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("value is not 2-decimal telemetry")), e)
  }
}

/** The relational spelling of the pair stats the kernel replaced: a
  * self-join of the series on (user, p) over exploded diagonals, five
  * running window sums and five lags per (user, diagonal).
  */
object StompReference {
  def relational(events: DataFrame, L: Int, stride: Int, sampleDiagEvery: Int = 1,
      newFrom: Option[DataFrame] = None): DataFrame = {
    val ser = Relational.integerSeries(events)
    val d0 = ((L + stride - 1) / stride).toLong * stride
    val step = stride.toLong * sampleDiagEvery
    val right0 = ser.filter(col("p") > d0)
      .select(col("user_id"), col("p").as("p2"), col("x").as("y"),
        explode(sequence(lit(d0), col("p") - 1, lit(step))).as("d"))
      .withColumn("p", col("p2") - col("d"))
    val right = newFrom match {
      case None => right0
      case Some(f) => right0
        .join(f.select(col("user_id"), col("old_max")), Seq("user_id"), "left")
        .filter(coalesce(col("p2") >= col("old_max") + lit(stride.toLong), lit(true)))
        .drop("old_max")
    }
    val prods = right.join(ser, Seq("user_id", "p"))
      .select(col("user_id"), col("d"), col("p"), col("x"), col("y"),
        (col("x") * col("y")).as("xy"))
    val run = Window.partitionBy(col("user_id"), col("d")).orderBy(col("p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val off = Window.partitionBy(col("user_id"), col("d")).orderBy(col("p"))
    val cum = prods.select(col("user_id"), col("d"), col("p"),
      sum(col("xy")).over(run).as("cxy"),
      sum(col("x")).over(run).as("cx"),
      sum(col("x") * col("x")).over(run).as("cx2"),
      sum(col("y")).over(run).as("cy"),
      sum(col("y") * col("y")).over(run).as("cy2"))
    def winSum(c: String) =
      (col(c) - coalesce(lag(col(c), L).over(off), lit(0L))).as(c + "w")
    cum.select(col("user_id"), col("d"), col("p"),
        winSum("cxy"), winSum("cx"), winSum("cx2"), winSum("cy"), winSum("cy2"))
      .filter(col("p") >= L && (col("p") - L) % stride === 0)
      .select(col("user_id"), (col("p") - L + 1).as("s1"),
        (col("p") - L + 1 + col("d")).as("s2"),
        col("cxyw").as("qt"), col("cxw").as("sx1"), col("cx2w").as("sq1"),
        col("cyw").as("sx2"), col("cy2w").as("sq2"))
  }
}
