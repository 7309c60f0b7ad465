package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.SparkSpec
import graft.operators.Relational

/** The tiled STOMP kernel against a naive per-pair integer fold, over
  * random 2-decimal series and random chunk size C, window length L,
  * stride, diagonal-lattice step E and per-user old_max floor. The first
  * property drives [[StompTiles]] directly (the tile keys, grouped by key,
  * then each tile's pairs), hundreds of cases; [[StompPairStatsProperties]]
  * runs the same cases through `Relational.diagonalPairStats`.
  */
object StompTilesProperties extends Properties("graft.functions.StompTiles") {

  final case class Case(series: Map[Long, Vector[Long]], chunk: Int, L: Int,
      stride: Int, every: Int, floors: Map[Long, Long])

  val caseGen: Gen[Case] = for {
    users <- Gen.chooseNum(1, 3)
    lens <- Gen.listOfN(users, Gen.chooseNum(0, 48))
    series <- Gen.sequence[List[Vector[Long]], Vector[Long]](
      lens.map(n => Gen.listOfN(n, Gen.chooseNum(-99999L, 99999L)).map(_.toVector)))
    chunk <- Gen.oneOf(1, 2, 3, 5, 8, 16, StompTiles.Chunk)
    l <- Gen.chooseNum(1, 9)
    stride <- Gen.chooseNum(1, 4)
    every <- Gen.chooseNum(1, 3)
    floors <- Gen.sequence[List[Option[Long]], Option[Long]](
      lens.map(n => Gen.option(Gen.chooseNum(0L, n.toLong))))
  } yield {
    val ids = series.indices.map(_.toLong + 1)
    Case(ids.zip(series).toMap, chunk, l, stride, every,
      ids.zip(floors).collect { case (u, Some(f)) => u -> f }.toMap)
  }

  type Row = (Long, Long, Long, Long, Long, Long, Long, Long)

  /** Every admissible pair by the definition, each sum a direct fold. */
  def naive(c: Case): Seq[Row] = {
    val d0 = (c.L + c.stride - 1) / c.stride * c.stride
    c.series.toSeq.flatMap { case (u, xs) =>
      val starts = (1 to xs.length - c.L + 1 by c.stride)
      for {
        s1 <- starts; s2 <- starts
        if s2 - s1 >= d0 && (s2 - s1 - d0) % (c.stride * c.every) == 0
        if c.floors.get(u).forall(s2 > _)
      } yield {
        val a = xs.slice(s1 - 1, s1 - 1 + c.L); val b = xs.slice(s2 - 1, s2 - 1 + c.L)
        (u, s1.toLong, s2.toLong, a.zip(b).map { case (x, y) => x * y }.sum,
          a.sum, a.map(x => x * x).sum, b.sum, b.map(x => x * x).sum)
      }
    }.sorted
  }

  private def viaKernel(c: Case): Seq[Row] =
    c.series.toSeq.flatMap { case (u, xs) =>
      val n = xs.length.toLong
      val byTile = xs.indices.flatMap { i =>
        val p = i + 1L
        val ks = StompTiles.tileKeys(InternalRow(p, n), c.chunk, c.L).toLongArray()
        ks.map(k => k -> InternalRow(p, xs(i)))
      }.groupBy(_._1)
      byTile.toSeq.flatMap { case (key, pts) =>
        val tile = InternalRow(key, c.floors.getOrElse(u, 0L),
          new GenericArrayData(pts.map(_._2).reverse.toArray[Any]))
        val out = StompTiles.tilePairs(tile, c.chunk, c.L, c.stride, c.stride * c.every)
        (0 until out.numElements()).map { i =>
          val r = out.getStruct(i, 7)
          (u, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6))
        }
      }
    }.sorted

  def viaSpark(c: Case): Seq[Row] = {
    val spark = SparkSpec.session
    import spark.implicits._
    val events = c.series.toSeq.flatMap { case (u, xs) =>
      xs.zipWithIndex.map { case (x, i) => (u, 3L * i + 5, "click", x / 100.0) }
    }.reverse.toDF("user_id", "event_id", "event_type", "value")
    val floor = c.floors.toSeq.toDF("user_id", "old_max")
    Relational.diagonalPairStats(events, c.L, c.stride, c.every,
        Some(floor).filter(_ => c.floors.nonEmpty), c.chunk)
      .as[Row].collect().toSeq.sorted
  }

  property("tile kernel == naive per-pair fold, each pair once") =
    forAll(caseGen)(c => Prop(viaKernel(c) == naive(c)) :| s"$c")

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(500)
}

/** [[StompTilesProperties]]' cases through `Relational.diagonalPairStats`
  * on a Spark session: one job per case, so fewer cases.
  */
object StompPairStatsProperties extends Properties("graft.operators.diagonalPairStats") {
  property("diagonalPairStats == naive per-pair fold on a Spark session") =
    forAll(StompTilesProperties.caseGen)(c =>
      Prop(StompTilesProperties.viaSpark(c) == StompTilesProperties.naive(c)) :| s"$c")

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)
}
