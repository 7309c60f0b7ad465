package graft.tools

import graft.{SparkSpec, Tables}
import graft.operators.Materialize
import org.apache.spark.sql.functions._

/** The corpus-hint invariant, spec-pinned: PlanAudit.corpusBroadcastHints
  * must trip on a DELIBERATE broadcast of a fact-table-rooted frame (so
  * the guard is known-live, not vacuously green) and stay silent on the
  * legitimate shapes — dim broadcasts and hint-free corpus joins.
  */
class PlanAuditSpec extends SparkSpec {

  /** The audited surface (r11 verdict item 5): every verify frame PLUS
    * every benchFn spelling that differs from it — the frames BENCH
    * actually times audit as ROOTS, not only as subtrees of verify
    * frames. Rows are (display, base, fn); iterative/allowlist
    * adjudications key on the BASE name (a bench frame is the verify
    * frame minus gate legs, never a new shape — the SURVEY §6
    * bench/verify-split contract, so an adjudication that covers the
    * gated frame covers its production subtree too).
    */
  private def auditSurface: Seq[(String, String,
      (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    val qs = graft.SparkEntry.queries
    val bench = graft.SparkEntry.benchQueries.toSeq
      .filter { case (n, fn) => !(fn eq qs(n)) }
      .map { case (n, fn) => (s"$n#bench", n, fn) }
    (qs.toSeq.map { case (n, fn) => (n, n, fn) } ++ bench).sortBy(_._1)
  }

  /** Every non-iterative frame of the surface, built ONCE under
    * Materialize.planOnly so the whole plan is visible and no checkpoint
    * job runs. Each frame's analyzed, optimized and physical plans are
    * forced before the cache is cleared, so every guard reads the plan as
    * built (a frame a query persisted still reads as its cached relation).
    * Rows are (display, base, frame); the failures are (display: error).
    */
  private lazy val built: (Seq[String], Seq[(String, String, org.apache.spark.sql.DataFrame)]) = {
    val rows = auditSurface.collect {
      case (display, base, fn) if !PlanAudit.iterative.contains(base) =>
        val r = try {
          val df = Materialize.planOnly(fn(spark, sfDir))
          df.queryExecution.executedPlan
          Right(df)
        } catch { case e: Throwable => Left(s"$display: $e") }
        spark.catalog.clearCache()
        (display, base, r)
    }
    (rows.collect { case (_, _, Left(msg)) => msg },
      rows.collect { case (display, base, Right(df)) => (display, base, df) })
  }

  /** `probe` over the built surface. Rows are (display, base, result). A
    * frame that fails to build or probe fails the sweep: a swallowed
    * failure would read as "no findings".
    */
  private def overSurface[T](probe: org.apache.spark.sql.DataFrame => T): Seq[(String, String, T)] = {
    val rows = built._2.map { case (display, base, df) =>
      (display, base, try Right(probe(df)) catch { case e: Throwable => Left(s"$display: $e") })
    }
    val failed = built._1 ++ rows.collect { case (_, _, Left(msg)) => msg }
    assert(failed.isEmpty, s"frames that failed to build or probe: ${failed.mkString("; ")}")
    rows.collect { case (display, base, Right(r)) => (display, base, r) }
  }

  /** Run one guard over the whole surface; returns the unadjudicated hits
    * and the stale adjudications: entries naming no frame whose guard
    * fires, which would mask a future regression under an old excuse.
    */
  private def sweep(guard: org.apache.spark.sql.DataFrame => Seq[String],
      allowed: Set[String]): (Seq[(String, Seq[String])], Set[String]) = {
    val hits = overSurface(guard).filter(_._3.nonEmpty)
    (hits.collect { case (display, base, h) if !allowed.contains(base) => (display, h) },
      allowed -- hits.map(_._2))
  }

  private def offendersMsg(offenders: Seq[(String, Seq[String])]): String =
    offenders.map(o => o._1 + "=" + o._2.mkString(",")).mkString("; ")

  test("deliberate broadcast of a corpus-rooted frame trips the guard") {
    val docs = Tables.documents(spark, sfDir)
    // the exact anti-pattern removed in r4/r5: a corpus-derived
    // (data-proportional) frame under an explicit broadcast hint
    val bad = docs.join(
      broadcast(docs.select(col("doc_id"), length(col("text")).as("len"))),
      Seq("doc_id"))
    val hits = PlanAudit.corpusBroadcastHints(bad)
    assert(hits.nonEmpty, "guard failed to flag a corpus-rooted broadcast hint")
    assert(hits.exists(_.contains("documents")))
  }

  test("fact-table leaves are recognized for every fact table") {
    for ((frame, name) <- Seq(
        (Tables.documents(spark, sfDir), "documents"),
        (Tables.embeddings(spark, sfDir), "embeddings"),
        (Tables.events(spark, sfDir), "events"),
        (Tables.lineitem(spark, sfDir), "lineitem"),
        (Tables.orders(spark, sfDir), "orders"))) {
      val hinted = frame.join(broadcast(frame.limit(1)), frame.columns.take(1).toSeq)
      assert(PlanAudit.corpusBroadcastHints(hinted).exists(_.contains(name)),
        s"guard blind to fact table $name")
    }
  }

  test("dim broadcasts and hint-free corpus joins do not trip the guard") {
    val l = Tables.lineitem(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    // broadcasting dims is the CORRECT plan — must not be flagged
    val dimJoin = l.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
    assert(PlanAudit.corpusBroadcastHints(dimJoin).isEmpty)
    // a hint-FREE corpus-corpus join (AQE's call at runtime) is clean too
    val free = l.join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
    assert(PlanAudit.corpusBroadcastHints(free).isEmpty)
  }

  test("deliberate global window trips the guard; partitioned windows don't") {
    import org.apache.spark.sql.expressions.{Window => W}
    val docs = Tables.documents(spark, sfDir)
    // the anti-pattern: a corpus-wide rank with NO partitioning — every
    // row through one task
    val bad = docs.withColumn("rk", row_number().over(W.orderBy(col("doc_id"))))
    val hits = PlanAudit.globalWindows(bad)
    assert(hits.nonEmpty, "guard failed to flag an unpartitioned window")
    assert(hits.exists(_.contains("rk")))
    // the corrected shape is silent
    val good = docs.withColumn("rk",
      row_number().over(W.partitionBy(col("source")).orderBy(col("doc_id"))))
    assert(PlanAudit.globalWindows(good).isEmpty)
    // rank-limit shape: an unpartitioned top-k via WindowGroupLimit
    // (filter on rank) must also trip, whichever node survives
    // optimization
    val topk = bad.filter(col("rk") <= 10)
    assert(PlanAudit.globalWindows(topk).nonEmpty,
      "guard blind to the filtered (WindowGroupLimit) global-rank shape")
  }

  test("deliberate enum-partitioned window trips the guard; bucketed and growing-key windows don't") {
    import org.apache.spark.sql.expressions.{Window => W}
    val docs = Tables.documents(spark, sfDir)
    // the p12-class anti-pattern: a corpus-wide rank partitioned ONLY by
    // an enum-bounded key — one task sorts a whole language
    val bad = docs.withColumn("rk",
      row_number().over(W.partitionBy(col("lang")).orderBy(col("doc_id"))))
    assert(PlanAudit.enumWindows(bad).nonEmpty,
      "guard failed to flag a lang-only window")
    // the two-phase spelling adds a bucket key -> per-task frame bounded
    val bucketed = docs
      .withColumn("b", pmod(col("doc_id"), lit(32L)))
      .withColumn("rk", row_number().over(
        W.partitionBy(col("lang"), col("b")).orderBy(col("doc_id"))))
    assert(PlanAudit.enumWindows(bucketed).isEmpty,
      "a (lang, bucket) spec must not be flagged")
    // a data-growing partition key is the normal healthy shape
    val growing = docs.withColumn("rk",
      row_number().over(W.partitionBy(col("source")).orderBy(col("doc_id"))))
    assert(PlanAudit.enumWindows(growing).isEmpty,
      "domain-partitioned windows are d14's adjudicated-growing shape")
  }

  test("the audited query+bench surface carries no unadjudicated enum-partitioned windows") {
    val (offenders, _) = sweep(PlanAudit.enumWindows, PlanAudit.allowedEnumWindows.keySet)
    assert(offenders.isEmpty,
      s"unadjudicated enum-partitioned windows: ${offendersMsg(offenders)}")
  }

  test("deliberate unbounded collect_list trips the guard; plain count aggregates don't") {
    import org.apache.spark.sql.functions._
    val events = graft.Tables.events(spark, sfDir)
    // the q53 hot-key shape: a user's whole history in one aggregate row
    val hot = events.groupBy(col("user_id"))
      .agg(collect_list(struct(col("event_id"), col("value"))).as("xs"))
    val flagged = PlanAudit.collectAggregates(hot)
    assert(flagged.nonEmpty && flagged.head.contains("collect_list"),
      s"the q53 shape must trip: $flagged")
    assert(flagged.head.contains("user_id"), s"grouping keys reported: $flagged")
    // collect_set trips too
    assert(PlanAudit.collectAggregates(
      events.groupBy(col("user_id")).agg(collect_set(col("event_type")).as("s")))
      .exists(_.contains("collect_set")))
    // scalar aggregates never trip
    assert(PlanAudit.collectAggregates(
      events.groupBy(col("user_id")).agg(count(lit(1)), sum(col("value")))).isEmpty)
  }

  test("the audited query+bench surface carries no unadjudicated array-collect aggregates") {
    val (offenders, stale) = sweep(PlanAudit.collectAggregates, PlanAudit.allowedCollects.keySet)
    assert(offenders.isEmpty,
      s"unadjudicated array collects: ${offendersMsg(offenders)}")
    assert(stale.isEmpty, s"stale allowedCollects adjudications: $stale")
  }

  test("the audited query+bench surface carries no unadjudicated global windows") {
    val (offenders, _) = sweep(PlanAudit.globalWindows, PlanAudit.allowedGlobalWindows.keySet)
    assert(offenders.isEmpty,
      s"unadjudicated global windows: ${offendersMsg(offenders)}")
  }

  test("unpartitioned-window census reconciles EXACTLY against the adjudicated set (r15 item 6)") {
    // The runtime "No Partition Defined for Window operation" warnings in
    // the bench tail carry no query context, so a NEW enum/global window
    // could hide among the known ones. This pins the full (query -> node
    // count) census: a new offender, a removed one, or a stale
    // allowedGlobalWindows entry each fails loudly with the diff.
    val census = overSurface(PlanAudit.globalWindows(_).size)
      .collect { case (display, _, n) if n > 0 => display -> n }.toMap
    val expected = Map(
      "p14_epoch_shuffle" -> 1,
      "p15_curriculum_order" -> 1,
      "p17_weighted_sample" -> 1,
      "p20_quality_weighted_sample" -> 1,
      "p26_rank_weighted_sample" -> 1,
      "p4_pack_sequences" -> 1,
      "q39_revenue_share" -> 2,
      "q48_surrogate_keys" -> 1)
    assert(census == expected,
      s"global-window census drifted — added: ${(census.toSet -- expected.toSet).toSeq.sorted}; " +
        s"removed: ${(expected.toSet -- census.toSet).toSeq.sorted}. " +
        "A new entry needs an allowedGlobalWindows adjudication AND this pin updated consciously.")
    // every adjudication must correspond to a live window — stale
    // entries would mask a future regression under an old excuse
    val stale = PlanAudit.allowedGlobalWindows.keySet -- census.keySet
    assert(stale.isEmpty, s"stale allowedGlobalWindows adjudications: $stale")
  }

  test("the audited query+bench surface carries no unadjudicated corpus hints") {
    // every lazily-plannable SparkEntry query passes the guard or is in
    // the allowlist with a boundedness argument — the whole-repo
    // invariant, enforced here so a regression fails the suite, not
    // just the out-of-band audit tool. Exclusions come from PlanAudit's
    // OWN shared lists (iterative algorithms execute at plan-build) so
    // the tool and this sweep can't drift.
    val (offenders, _) = sweep(PlanAudit.corpusBroadcastHints, PlanAudit.allowedHints.keySet)
    assert(offenders.isEmpty,
      s"unadjudicated corpus-rooted hints: ${offendersMsg(offenders)}")
  }

  test("deliberate both-sides-array self-join trips the payload guard; slim and cross-table joins don't") {
    val e = Tables.embeddings(spark, sfDir)
    // the d17-class anti-pattern: a fact self-join re-shuffling the full
    // embedding payload on BOTH sides
    val bad = e.select(col("vec_id").as("a"), col("embedding").as("va"), pmod(col("vec_id"), lit(16L)).as("k"))
      .join(e.select(col("vec_id").as("b"), col("embedding").as("vb"), pmod(col("vec_id"), lit(16L)).as("k")), Seq("k"))
    assert(PlanAudit.arrayPairJoins(bad).nonEmpty,
      "guard failed to flag a both-sides-array fact self-join")
    // a slim candidate join (ids only) is the healthy dedup shape
    val slim = e.select(col("vec_id").as("a"), pmod(col("vec_id"), lit(16L)).as("k"))
      .join(e.select(col("vec_id").as("b"), pmod(col("vec_id"), lit(16L)).as("k")), Seq("k"))
    assert(PlanAudit.arrayPairJoins(slim).isEmpty,
      "a slim id-pair self-join must not be flagged")
    // arrays meeting across DIFFERENT tables are not the pairwise shape
    val cross = e.select(col("vec_id").as("doc_id"), col("embedding"))
      .join(Tables.documents(spark, sfDir)
        .select(col("doc_id"), split(col("text"), " ").as("toks")), Seq("doc_id"))
    assert(PlanAudit.arrayPairJoins(cross).isEmpty,
      "a cross-table array join must not be flagged")
  }

  test("the audited query+bench surface carries no unadjudicated both-sides-array self-joins") {
    val (offenders, stale) = sweep(PlanAudit.arrayPairJoins, PlanAudit.allowedArrayPairJoins.keySet)
    assert(offenders.isEmpty,
      s"unadjudicated array pair joins: ${offendersMsg(offenders)}")
    assert(stale.isEmpty, s"stale allowedArrayPairJoins adjudications: $stale")
  }

  test("the audited query+bench surface carries no unadjudicated nested-loop or cartesian joins") {
    // the BNLJ half of the audit tool's contract, previously enforced
    // only by running the out-of-band tool — the r8 review caught x11
    // adjudicated in allowedHints but missing from the BNLJ list, a
    // standing tool false-alarm this sweep turns into a suite failure.
    // Physical plans (executedPlan), because BNLJ is a strategy choice
    // the logical plan doesn't show. Cartesians have NO allowlist: the
    // guard closure flags them under a sentinel name so they fail for
    // any query, adjudicated or not.
    val offenders = overSurface { df =>
      val plan = df.queryExecution.executedPlan.toString
      (plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin")),
        plan.linesIterator.count(_.contains("CartesianProduct")))
    }.collect { case (display, base, (bnlj, cart))
        if cart > 0 || (bnlj > 0 && !PlanAudit.allowedBnlj.contains(base)) =>
      (display, base, bnlj, cart)
    }
    assert(offenders.isEmpty,
      s"unadjudicated BNLJ/cartesian joins: ${offenders.map(o => s"${o._1}(bnlj=${o._3},cart=${o._4})").mkString("; ")}")
  }
}
