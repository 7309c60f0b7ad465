package graft.tools


/** One-pass plan audit over every SparkEntry query: flags nested-loop /
  * cartesian joins (the quadratic-plan smells) and counts exchanges, so a
  * scale regression shows up as a diff in this tool's output rather than
  * a slow cluster run. BNLJ is acceptable ONLY with a constant-size
  * broadcast build side (the ANN query-set pattern, s1/s4) — anything
  * else listed here is a bug. Every frame is built under
  * `Materialize.planOnly`, so the audit sees whole plans and runs no
  * checkpoint job; the [[iterative]] queries are skipped.
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir]
  */
object PlanAudit {
  /** Fact (data-proportional) table a leaf relation reads, identified by
    * its characteristic output columns — robust to projections because
    * the LEAF still carries the full relation output. Dim tables
    * (nation/region/customer/supplier/part) are excluded by design:
    * broadcasting a dim is the correct plan.
    */
  def factTableOf(leaf: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[String] = {
    val names = leaf.output.map(_.name).toSet
    if (names.contains("doc_id") && names.contains("text")) Some("documents")
    else if (names.contains("vec_id") && names.contains("embedding")) Some("embeddings")
    else if (names.contains("event_type") && names.contains("user_id")) Some("events")
    else if (names.exists(_.startsWith("l_"))) Some("lineitem")
    else if (names.exists(_.startsWith("o_"))) Some("orders")
    else None
  }

  /** The round-4/5 invariant, mechanized: every join-strategy hint whose
    * subtree is rooted at a fact-table scan. A hint on a corpus-derived
    * frame drags data-proportional bytes through the driver at scale —
    * the exact class removed from d2/t7/d3 (r4) and s2/t11 (r5). Frames
    * that are PROVABLY bounded (one-row totals, k-row centroids,
    * parameter-bounded query sets) still trip this mechanically and are
    * adjudicated via the allowlist below, each with its boundedness
    * argument on record.
    */
  def corpusBroadcastHints(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        h.child.collectLeaves().flatMap(factTableOf).distinct
    }.flatten.map(t => s"hint rooted at fact table '$t'")

  // Hinted frames rooted at a fact scan that are bounded by something
  // OTHER than the data size — each entry is an adjudicated exception
  // with its boundedness argument. Anything not listed here that trips
  // corpusBroadcastHints is a scale bug.
  val allowedHints = Map(
    "s1_ann_bruteforce_topk" -> "query set: vec_id < NQueries (parameter-bounded)",
    "s2_ann_lsh_topk" -> "probe-key + query-vector frames: vec_id < NQueries (parameter-bounded)",
    "s4_ann_ivf_topk" -> "k-row trained centroid frame + parameter-bounded query set",
    "s5_ann_quantized_topk" -> "query set: vec_id < NQueries (parameter-bounded)",
    "s7_mips_topk" -> "query set: vec_id < NQueries (parameter-bounded — the s1 class)",
    "s6_ann_pq_topk" -> "m x k-row PQ codebook frames + parameter-bounded query set",
    "s8_ann_ivfpq_topk" -> "kIvf-row centroid frame, m x kc-row codebooks, query x nProbe probe frame (all parameter-bounded — the s4/s6 classes)",
    "s9_ann_ivfpq_index_read" -> "query x nProbe probe frame (parameter-bounded; lists/books collapse to literals — the s8 read-path classes)",
    "s11_ann_opq_topk" -> "query x nProbe probe frame (parameter-bounded; lists/books/rotation collapse to literals — s9's read-path classes with the rotation literal on the query side)",
    "s12_ann_recall_curve" -> "query x kIvf ranked probe frame + the s1-class exact gate leg's query set (all parameter-bounded — s11's classes; the bench leg is the s11 read path at nProbe=2)",
    "s13_ann_filtered_topk" -> "query x nProbe probe frame + the s1-class exact gate leg's query set (parameter-bounded — s9's classes over the attribute-filtered codes scan)",
    "s14_ann_residual_topk" -> "query x nProbe probe frame (parameter-bounded — s9's read-path classes; the residual add-back is a per-row map, no new frame)",
    "t7_winnowing_fingerprints" -> "one-row nDocs aggregate",
    "t9_tfidf" -> "one-row nDocs aggregate",
    "t11_surprisal" -> "one-row total-tokens aggregate",
    "t20_stupid_backoff" -> "one-row (N,V) train-totals aggregate (the t11 class)",
    "t21_bm25_topk" -> "parameter-bounded query-term frame + one-row (N, total-tokens) aggregate",
    "t26_pmi_collocations" -> "one-row total-bigrams aggregate (the t9/t11 class)",
    "t28_nb_train" -> "one-row class-token-totals aggregate (the t9/t11 class)",
    "t25_hybrid_rrf" -> "t21's bounded frames + the s1-class parameter-bounded example-vector set",
    "x3_heavy_hitters" -> "hashed-bucket aggregate: width 1024 rows max (constant)",
    "x4_sketch_union" -> "one-row exact-distinct aggregate for the bounds-oracle within_tol leg (the t9/q48 shape; gate-only — production runs the estimate alone)",
    "x17_misra_gries" -> "one-row n_total aggregate + the <=k-row sketch frame (both parameter-bounded; the bounds-oracle gate legs)",
    "x18_mergeable_quantiles" -> "one-row exact-percentile aggregate for the bounds-oracle within_tol leg (the x4 shape; gate-only — production unions stored sketches)",
    "d8_decontaminate" -> "benchmark-slice gram frame: bounded by the eval suite, a separate tiny table at 100 TB",
    "d23_contamination_share" -> "benchmark-slice gram frame (the d8 class): bounded by the eval suite, a separate tiny table at 100 TB",
    "d14_domain_governance" -> "one-row post-dedup total aggregate (the t9/q48 shape)",
    "p3_stratified_sample" -> "|langs| x buckets-row two-phase offsets frame (enum- and parameter-bounded)",
    "p12_temperature_sample" -> "one-row w_total + <=|langs|-row targets + |langs| x buckets-row offsets (enum- and parameter-bounded)",
    "p13_unimax_sample" -> "|langs|-row local targets frame + |langs| x buckets-row two-phase offsets (enum- and parameter-bounded)",
    "p14_epoch_shuffle" -> "buckets-row two-phase offsets frame (parameter-bounded)",
    "x9_countmin_freq" -> "CMS cell frame: depth x width = 4 x 512 = 2048 rows max (parameter-bounded)",
    "x16_join_size" -> "one-row exact-comparison aggregate (the t9/t11 class; the CMS cell frames are depth x width-bounded)",
    "x11_bloom_decontaminate" -> "one-row mBits/64-long bloom bitmap (parameter-bounded) + benchmark-slice distinct-gram frame (d8's class: bounded by the eval suite, a separate tiny table at 100 TB)",
    "p15_curriculum_order" -> "stages x buckets-row two-phase offsets frame (parameter-bounded)",
    "p16_dsir_sample" -> "one-row token totals + nBuckets(=256)-row vote/log-ratio frame (parameter-bounded — the x3/x9 class)",
    "p17_weighted_sample" -> "one-row w_total + buckets-row weighted-offsets frame (parameter-bounded — the p14 class)",
    "p26_rank_weighted_sample" -> "one-row w_total + buckets-row offsets + host-proportional rank frame (the p17/p23 classes)",
    "p20_quality_weighted_sample" -> "one-row w_total + buckets-row offsets + dim(=4096)-row model frame (parameter-bounded — the p17/t15 classes)",
    "p18_d4_diversify" -> "one-row w_total + 2^signBits-row targets + 2^signBits x buckets-row offsets (parameter-bounded — the p12 class)",
    "p30_domain_hits" -> "one-row (max hub, max authority) aggregate for the final scale-invariant normalization (the t9/d14 class)")

  /** The global-window invariant, mechanized like the hint guard: every
    * logical Window (or WindowGroupLimit) with an EMPTY partition spec.
    * An unpartitioned window funnels the whole frame through ONE task —
    * the classic silent scale-killer — so any instance must either be
    * partitioned or carry a boundedness argument in
    * [[allowedGlobalWindows]]. Detection is on the optimized LOGICAL
    * plan (no AQE wrapper to unwrap, and rank-limit rewrites haven't
    * hidden the window yet); expression subqueries are swept too.
    */
  def globalWindows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window, WindowGroupLimit}
    val root = df.queryExecution.optimizedPlan
    (root +: root.subqueriesAll).flatMap(_.collect {
      case w: Window if w.partitionSpec.isEmpty =>
        s"unpartitioned Window [${w.windowExpressions.map(_.name).mkString(",")}]"
      case w: WindowGroupLimit if w.partitionSpec.isEmpty =>
        "unpartitioned WindowGroupLimit"
    })
  }

  // Unpartitioned windows over frames bounded by something OTHER than
  // the data size — each an adjudicated exception with its boundedness
  // argument (the round-5 VERDICT's benign list, now mechanical).
  // Anything not listed here that trips globalWindows is a scale bug.
  val allowedGlobalWindows = Map(
    "p4_pack_sequences" ->
      "declared single-shard oracle twin of p8 (the scale path IS p8's sharded window)",
    "q39_revenue_share" ->
      "25-row post-aggregate frame (nation-enum-bounded)",
    "q48_surrogate_keys" ->
      "32-row bucket prefix-sum frame (bucket-parameter-bounded)",
    "p14_epoch_shuffle" ->
      "buckets-row prefix-sum frame (bucket-parameter-bounded, the q48 class)",
    "p15_curriculum_order" ->
      "stages x buckets-row prefix-sum frame (parameter-bounded, the q48 class)",
    "p17_weighted_sample" ->
      "buckets-row weighted prefix-sum frame (bucket-parameter-bounded, the q48 class)",
    "p20_quality_weighted_sample" ->
      "buckets-row weighted prefix-sum frame (bucket-parameter-bounded, the p17 class)",
    "p26_rank_weighted_sample" ->
      "buckets-row weighted prefix-sum frame (bucket-parameter-bounded, the p17 class)")

  /** Columns whose cardinality does NOT grow with the data — the keys a
    * window must never partition by ALONE over a data-proportional frame:
    * at 100 TB, `partitionBy(lang)` funnels a whole language (~41 TB for
    * `en` here) through ONE task's sort, and the plain global-window
    * guard is blind to it because the partition spec is non-empty (the
    * r7 verdict's note, now mechanical). `source`/domain is deliberately
    * absent: domain cardinality grows with the corpus (the d14 share-cap
    * argument). Composite specs that ALSO carry a growing key (e.g.
    * (lang, bucket)) are fine — the bucket bounds the per-task frame.
    */
  val enumBoundedCols = Set("lang", "event_type", "o_orderpriority",
    "o_orderstatus", "l_returnflag", "l_linestatus", "l_shipmode",
    "c_mktsegment", "n_name", "r_name")

  /** Every logical Window (or WindowGroupLimit) whose partition spec
    * references ONLY enum-bounded columns — each must be adjudicated in
    * [[allowedEnumWindows]] with a frame-size argument or re-spelled via
    * the two-phase bucket enumeration (q48/p12/p3).
    */
  def enumWindows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window, WindowGroupLimit}
    def refs(spec: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      spec.flatMap(_.references.toSeq).map(_.name.toLowerCase)
    def bad(spec: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
      val r = refs(spec)
      r.nonEmpty && r.forall(enumBoundedCols.contains)
    }
    val root = df.queryExecution.optimizedPlan
    (root +: root.subqueriesAll).flatMap(_.collect {
      case w: Window if bad(w.partitionSpec) =>
        s"window partitioned only by enum-bounded [${refs(w.partitionSpec).distinct.mkString(",")}]"
      case w: WindowGroupLimit if bad(w.partitionSpec) =>
        s"WindowGroupLimit partitioned only by enum-bounded [${refs(w.partitionSpec).distinct.mkString(",")}]"
    })
  }

  // Enum-partitioned windows over frames bounded by something OTHER than
  // the data size — adjudicated with the frame-size argument. Anything
  // else that trips enumWindows is the p12-class scale bug.
  val allowedEnumWindows = Map(
    "q25_ranking_zoo" ->
      "ranking zoo runs on a <=300-row frame (c_custkey <= 300 pushed below the window)",
    "p3_stratified_sample" ->
      "prefix-sum over the |langs| x buckets-row two-phase offsets frame (constant-size)",
    "p12_temperature_sample" ->
      "prefix-sum over the |langs| x buckets-row two-phase offsets frame (constant-size)",
    "p13_unimax_sample" ->
      "prefix-sum over the |langs| x buckets-row two-phase offsets frame (constant-size)",
    "x12_histogram_quantiles" ->
      "cumulative window over the HISTOGRAM frame: bins <= value-range/binCents rows per flag (parameter-bounded, never data-proportional)")

  /** The q53-class guard (round 11), mechanized like the other four:
    * every logical Aggregate carrying a collect_list/collect_set. An
    * array aggregate's per-group state is the GROUP'S ROW COUNT, so a
    * hot key over an unbounded grouping OOMs one task at 100 TB — the
    * r10 verdict's q53 finding (a user's full event history in one
    * row), fixed by the windowed-shard twin (q55) and now swept
    * mechanically: every instance must carry a boundedness argument in
    * [[allowedCollects]] (doc-length-bounded, window-sharded,
    * parameter/enum-bounded, post-rank-limited), or it is the q53
    * hot-key bug.
    */
  def collectAggregates(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet}
    val root = df.queryExecution.optimizedPlan
    (root +: root.subqueriesAll).flatMap(_.collect {
      case a: Aggregate =>
        val hits = a.aggregateExpressions.flatMap(_.collect {
          case _: CollectList => "collect_list"
          case _: CollectSet => "collect_set"
        }).distinct
        if (hits.isEmpty) Nil
        else {
          val keys = a.groupingExpressions.flatMap(_.references.toSeq)
            .map(_.name).distinct
          Seq(s"${hits.mkString("+")} grouped by [${keys.mkString(",")}]")
        }
    }).flatten
  }

  // Array aggregates whose per-group row count is bounded by something
  // OTHER than the data size — each an adjudicated exception with its
  // boundedness argument. Anything not listed here that trips
  // collectAggregates is the q53 hot-key scale bug. (Aggregates inside
  // persisted frames — d2/d3's cached gram sets — are audited where the
  // building pipeline is lazily plannable.)
  val allowedCollects: Map[String, String] = Map(
    "q56_ts_subsequence_topk" ->
      "per-(user, window-start) subsequence assembly: LENGTH-L-bounded (the window length is a query parameter — complete windows carry exactly L rows; incomplete ones are filtered before any array leaves the aggregate)",
    "q57_ts_znorm_topk" ->
      "the q56 window assembly (shared tsWindows): LENGTH-L-bounded by the same argument",
    "q58_ts_motif" ->
      "the q56 window assembly (shared tsWindows): LENGTH-L-bounded by the same argument",
    "q59_ts_matrix_profile" ->
      "the STOMP kernel's per-(user, tile) position collect (StompTiles): a tile is two chunks of C = StompTiles.Chunk window starts with their L-1 overlap, at most 2·(C+L-1) positions per row — a constant plus a query parameter, never a user's history",
    "q60_ts_matrix_profile_znorm" ->
      "q59's tile collect (shared diagonalPairStats): at most 2·(C+L-1) positions per row",
    "q61_ts_discord_topk" ->
      "q59's tile collect (shared diagonalPairStats): at most 2·(C+L-1) positions per row",
    "q64_ts_fluss_cac" ->
      "q59's tile collect (the CAC rides the unsorted profile core): at most 2·(C+L-1) positions per row",
    "q66_ts_regime_boundaries" ->
      "q64's curve over q59's tile collect: at most 2·(C+L-1) positions per row",
    "q72_ts_profile_sampled" ->
      "q59's tile collect (the sampled lattice and the exact gate leg share diagonalPairStats): at most 2·(C+L-1) positions per row",
    "q62_ts_left_profile" ->
      "the q56 window assembly (shared tsWindows): LENGTH-L-bounded by the same argument",
    "q65_ts_floss_cac1" ->
      "the q56 window assembly (shared tsWindows via the q62 left-profile core): LENGTH-L-bounded by the same argument",
    "q67_ts_floss_regime_alerts" ->
      "q65's window assembly verbatim (the extraction rides its curve): LENGTH-L-bounded by the same argument",
    "d10_containment" ->
      "per-doc shingle-hash set + low-df prefix list: DOC-LENGTH-bounded (one group per doc_id, rows = that doc's distinct shingles)",
    "d15_boilerplate_scrub" ->
      "per-doc kept-line reassembly: doc-length-bounded (rows = that doc's surviving lines, in-order rebuild needs the list)",
    "d21_paragraph_dedup" ->
      "per-doc paragraph reassembly: doc-length-bounded (rows = that doc's paragraphs)",
    "p11_shard_manifest" ->
      "per-(shard[,pack]) manifest entries: bounded by the PACKING PARAMETERS (docs per pack by token budget, packs per shard by shard sizing) — never by corpus rows",
    "p9_pack_materialize" ->
      "per-(shard,pack) doc list: pack token budget bounds rows per group (the p4/p8 packing contract)",
    "q38_market_basket" ->
      "per-order item set: basket-size-bounded (TPC-H <= 7 lines/order; real baskets are bounded by checkout size, not corpus size)",
    "q53_ewma_by_user" ->
      "per-user history: activity-bounded (the t21 contract) at bench SF; the 100 TB spelling is q55's WINDOWED SHARD (shipped, spec-pinned bit-equal) — this monolithic fold stays as the single-window oracle form",
    "t21_bm25_topk" ->
      "per-(query,doc) term-weight list: bounded by the QUERY'S term count (parameter-bounded query set; the sorted fold is the cross-engine float contract)",
    "t25_hybrid_rrf" ->
      "t21's per-(query,doc) term list (same parameter bound) inside the lexical leg",
    "t27_textrank" ->
      "per-dst in-neighbor contributions: DEGREE-bounded — the word graph is vocabulary-proportional, never corpus-proportional (the x14 argument), and the sorted fold IS the float-iterative oracle contract; hub words are the known vocab-scale cost, re-spelled only at the price of bit-exact replay",
    "p23_domain_pagerank" ->
      "t27's per-dst in-neighbor contributions on the HOST graph: IN-DEGREE-bounded, host-proportional (≪ corpus — one edge row per distinct host pair, never per link); a mega-hub's in-neighbor list is the web-graph's real fan-in and the sorted fold is the price of bit-exact replay (the t27 adjudication verbatim)",
    "p24_domain_trustrank" ->
      "p23's rankIterate verbatim (shared code) with seeded teleport mass — the identical IN-DEGREE-bounded host-graph fold",
    "p26_rank_weighted_sample" ->
      "p23's rankIterate fold over the host graph (shared code, IN-DEGREE-bounded — the p23 adjudication verbatim)",
    "q63_psi_drift" ->
      "per-group PSI term fold: BINS-bounded (<= `bins` observed buckets per group, a query PARAMETER — the sorted fold is the cross-engine ln contract)",
    "p30_domain_hits" ->
      "p23's per-node in-/out-neighbor contribution folds on the HOST graph: DEGREE-bounded, host-proportional (the p23 adjudication verbatim, both directions)",
    "q76_ts_seasonal" ->
      "per-user phase-mean re-centering fold: PERIOD-bounded (exactly P rows per user, a query parameter — the fixed-order fold is the cross-engine float contract)",
    "q77_ts_seasonal_anomalies" ->
      "q76's period-bounded phase fold verbatim (the gate composes the decomposition on both join sides)",
    "q78_ts_forecast" ->
      "q76's period-bounded phase fold verbatim (the forecast consumes the seasonal-index frame)")

  /** The d17-class guard, mechanized like the hint/window guards: every
    * join whose BOTH inputs carry an ArrayType column AND whose two
    * sides scan the SAME fact table — the payload-through-pairwise
    * shape (the r8 verdict's one scale-killer: d17's within-bucket
    * pairwise carried the full embedding on both sides of a
    * fixed-16-key join). Arrays on both sides of a self-join mean
    * data-proportional payload bytes cross the exchange twice, so the
    * join key must provably spread the pair work — triangle
    * replication (d5/d17), salting (d18), an id-equi candidate fetch
    * (s3), or a parameter-bounded broadcast side (s1-class). Each
    * instance is adjudicated in [[allowedArrayPairJoins]] with its
    * partitioning argument; anything else that trips is the d17-class
    * scale bug.
    */
  def arrayPairJoins(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.ArrayType
    // for THIS guard the dim tables count too (unlike the hint guard,
    // where broadcasting a dim is the correct plan): a dim-self-join
    // carrying arrays on both sides is the same quadratic payload shape
    // whenever the dim grows with the catalog (d20's class)
    def tableOf(leaf: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[String] =
      factTableOf(leaf).orElse {
        val names = leaf.output.map(_.name).toSet
        if (names.exists(_.startsWith("p_"))) Some("part")
        else if (names.exists(_.startsWith("c_"))) Some("customer")
        else if (names.exists(_.startsWith("s_"))) Some("supplier")
        else None
      }
    val root = df.queryExecution.optimizedPlan
    (root +: root.subqueriesAll).flatMap { p =>
      p.collect { case j: Join => j }.flatMap { j =>
        val la = j.left.output.filter(_.dataType.isInstanceOf[ArrayType]).map(_.name)
        val ra = j.right.output.filter(_.dataType.isInstanceOf[ArrayType]).map(_.name)
        val shared = j.left.collectLeaves().flatMap(tableOf).toSet
          .intersect(j.right.collectLeaves().flatMap(tableOf).toSet)
        if (la.nonEmpty && ra.nonEmpty && shared.nonEmpty)
          Seq(s"self-join on '${shared.mkString(",")}' carries arrays on both sides " +
            s"[${la.distinct.mkString(",")} | ${ra.distinct.mkString(",")}]")
        else Nil
      }
    }
  }

  // Self-joins carrying array payloads on both sides whose join key
  // provably spreads the pair work — each an adjudicated exception with
  // its partitioning argument. Anything not listed here that trips
  // arrayPairJoins is the d17-class scale bug.
  val allowedArrayPairJoins: Map[String, String] = Map(
    "d5_dedup_embedding" ->
      "triangle-partitioned: join key (k1,k2) spreads the n²/2 pairs over B(B+1)/2 tasks, B-fold replication",
    "d17_semdedup" ->
      "triangle-partitioned WITHIN each sign bucket: join key (bucket,k1,k2) — no bucket funnels its b² pairs through one task (the r8 fix)",
    "d18_semdedup_probe" ->
      "salted bipartite probe: join key (bucket,salt) spreads each bucket's probe work over saltB tasks; arrival-side explode stays stream-narrow",
    "p18_d4_diversify" ->
      "composes d17's triangle-partitioned pairwise (same (bucket,k1,k2) key; instances are plan reuses of the one join)",
    "d3_dedup_ngram_jaccard" ->
      "gram arrays meet on an id-EQUI candidate fetch: slim deduped (id,id) pairs drive the join — one row per side per candidate, never pairwise",
    "s1_ann_bruteforce_topk" ->
      "corpus scanned once against the broadcast parameter-bounded query-vector set (the allowedBnlj theta join)",
    "s2_ann_lsh_topk" ->
      "exact-scoring join against the broadcast parameter-bounded query-vector set; candidates are slim id pairs",
    "s3_similarity_join" ->
      "vectors fetched by id-EQUI joins driven by slim deduped candidate pairs (the d3 class); the recall frame's exact gate leg reuses d5's triangle-partitioned key verbatim",
    "s4_ann_ivf_topk" ->
      "probed-list scan against the query-bounded probe frame (nProbe lists per query; queries parameter-bounded)",
    "s6_ann_pq_topk" ->
      "ADC scan + refine fetch against the broadcast parameter-bounded query set; refine fetch is id-equi on rank-bounded survivors",
    "s8_ann_ivfpq_topk" ->
      "ADC scan joins the broadcast query x nProbe probe frame on list_id; refine fetch is id-equi on rank-bounded survivors (the s6 class)",
    "s9_ann_ivfpq_index_read" ->
      "published-codes ADC scan joins the broadcast query x nProbe probe frame on list_id; refine fetch is id-equi on rank-bounded survivors (s8's read-path shape over the WAP artifact); the recall frame adds the s1-class brute-force gate leg",
    "s11_ann_opq_topk" ->
      "s9's read-path shape verbatim over the 4-table OPQ artifact (the rotation enters as a query-side literal, adding no join); the recall frame adds the s1-class brute-force gate leg",
    "s12_ann_recall_curve" ->
      "the s1-class brute-force gate leg (broadcast fixed-size query set) + codes joined to the broadcast query x kIvf ranked probe frame on (query,list) — both sides of every array-carrying join are parameter-bounded or id-equi; the bench leg is s11's read-path shape at nProbe=2",
    "s13_ann_filtered_topk" ->
      "s9's read-path shape over the attribute-filtered codes scan (the predicate pushes to parquet BEFORE the broadcast probe join); the recall frame adds the s1-class brute-force gate leg over the filtered universe",
    "s14_ann_residual_topk" ->
      "s9's read-path shape verbatim over the residual artifact (reconstruction adds one zip_with per candidate row, no new join); the recall frame adds the s1-class brute-force gate leg",
    "s7_mips_topk" ->
      "corpus scanned once against the broadcast parameter-bounded query-vector set (the s1 class)",
    "t25_hybrid_rrf" ->
      "the s1-class semantic leg: broadcast parameter-bounded example-vector set",
    "x6_kmv_overlap" ->
      "pair enumeration over the |event_type|-row post-aggregate sketch frame (constant size, the allowedBnlj argument)",
    "x7_kmv_union" ->
      "pair enumeration over the |event_type|-row post-aggregate sketch frame (constant size, the allowedBnlj argument)",
    "q58_ts_motif" ->
      "triangle-partitioned WITHIN user ((user,k1,k2) key — the d5 spread: no user funnels its W^2/2 window pairs through one task) AND the array payload is L doubles, a query PARAMETER — slim regardless of corpus",
    "q62_ts_left_profile" ->
      "bounded-offset explode (horizon/stride candidates per window, a PARAMETER) feeding one (user,pstart) equi-join; payload L doubles",
    "q65_ts_floss_cac1" ->
      "q62's bounded-offset left-profile core verbatim (horizon/stride candidates per window, a PARAMETER); the CAC tail after it is slim integer index rows",
    "q67_ts_floss_regime_alerts" ->
      "q65's bounded-offset left-profile core verbatim; the extraction windows after it carry slim (boundary, cac) rows",
    "d20_record_linkage" ->
      "blocked bipartite probe: the entity side is the DISTINCT attribute catalog (combination-bounded, not corpus-proportional) and the join key is the (noun, brand, category) blocking tuple — per-record pair work bounded by block granularity, the standard ER dial")

  // Iterative operators EXECUTE when their builder runs (label
  // propagation materializes per round), so "building the plan" would
  // run the whole algorithm and return only a scan of the checkpointed
  // result — nothing to audit. ONE list, shared by the audit tool and
  // PlanAuditSpec's whole-surface sweep, so the two can't drift.
  val iterative = Map(
    "d6_dedup_clusters" ->
      "iterative label propagation; per-round shape == d2's audited joins",
    "d7_dedup_canonical" ->
      "consumes d6's materialized components; per-round shape == d2's audited joins",
    "p19_leakage_safe_split" ->
      "consumes d6's materialized components; own shape = one id-keyed join + narrow hash projection",
    "x13_frequent_directions" ->
      "per-partition FD fold + driver merge execute at build; driver touches only numPartitions x l sketch rows",
    "t17_bpe_train" ->
      "trainer executes at build (one bounded TakeOrderedAndProject probe per merge round — the d6 iterative class); the learned-table/gate frames are local relations with nothing to audit",
    "q55_ewma_windowed" ->
      "iterative window fold (the A48 batch twin): per-window shape = one (user,window)-bounded aggregate + one user-keyed state join, localCheckpoint per window",
    "p28_corpus_build" ->
      "staged-artifact composite: every stage localCheckpoints at build (the d6 iterative class via connectedComponents); per-stage shapes are the stand-alone operators' audited shapes (d14/t18/t19/d1/d19/d21/d2+d6+d7/d8)")

  // Queries whose nested-loop join is a CONSTANT-size broadcast by
  // design (never grows with the corpus) — the legitimate BNLJ shape.
  // Object-level (not local to main) so PlanAuditSpec's whole-surface
  // BNLJ sweep shares it — the r8 review found x11 adjudicated in
  // allowedHints but missing here, a drift class the shared list +
  // sweep now makes impossible.
  val allowedBnlj = Map(
      "p30_domain_hits" ->
        "crossJoin(broadcast(<one-row (max hub, max authority) frame>)) for the final scale-invariant normalization (the t9/d14 shape)",
      "s1_ann_bruteforce_topk" ->
        "corpus scanned once against the broadcast fixed-size query set (theta join)",
      "s2_ann_lsh_topk" ->
        "the recall frame's s1-class brute-force gate leg (broadcast fixed-size query set) + its one-row x one-row recall cross",
      "s3_similarity_join" ->
        "the recall frame's one-row exact-count x one-row hits cross (the x4 gate-leg shape)",
      "s9_ann_ivfpq_index_read" ->
        "the recall frame's s1-class brute-force gate leg (broadcast fixed-size query set) + its one-row recall cross",
      "s11_ann_opq_topk" ->
        "the recall frame's s1-class brute-force gate leg (broadcast fixed-size query set) + its one-row recall cross (s9's adjudication verbatim)",
      "s12_ann_recall_curve" ->
        "the s1-class brute-force gate leg (broadcast fixed-size query set) + the one-row exact-stats x one-row level-hits cross (the x4 gate-leg shape)",
      "s13_ann_filtered_topk" ->
        "the recall frame's s1-class brute-force gate leg over the FILTERED universe (broadcast fixed-size query set) + its one-row recall cross (s9's adjudication verbatim)",
      "s14_ann_residual_topk" ->
        "the recall frame's s1-class brute-force gate leg (broadcast fixed-size query set) + its one-row recall cross (s9's adjudication verbatim)",
      "s4_ann_ivf_topk" ->
        "corpus x broadcast constant-size centroid sample (IVF assignment/probing)",
      "s5_ann_quantized_topk" ->
        "int8 corpus scanned once against the broadcast fixed-size query set (theta join)",
      "s7_mips_topk" ->
        "corpus scanned once against the broadcast fixed-size query set (theta join, the s1 shape)",
      "s6_ann_pq_topk" ->
        "reconstructed corpus scanned once against the broadcast fixed-size query set (theta join)",
      "s8_ann_ivfpq_topk" ->
        "corpus x broadcast constant-size centroid/codebook frames (IVF assignment + PQ encode + probing — the s4/s6 classes)",
      "t7_winnowing_fingerprints" ->
        "crossJoin(broadcast(<one-row nDocs frame>)) for the relational threshold",
      "t9_tfidf" ->
        "crossJoin(broadcast(<one-row nDocs frame>)) for the idf/df thresholds",
      "t11_surprisal" ->
        "crossJoin(broadcast(<one-row total-tokens frame>)) for the unigram model",
      "t20_stupid_backoff" ->
        "crossJoin(broadcast(<one-row (N,V) train-totals frame>)) for the unigram floor",
      "t21_bm25_topk" ->
        "crossJoin(broadcast(<one-row (N, total-tokens) frame>)) for idf/avgdl",
      "t26_pmi_collocations" ->
        "crossJoin(broadcast(<one-row total-bigrams frame>)) for the lift ratio",
      "t28_nb_train" ->
        "crossJoin(broadcast(<one-row class-totals frame>)) onto the dim-bounded bucket grid",
      "t25_hybrid_rrf" ->
        "corpus scanned once against the broadcast example-vector set (the s1 theta join) inside the semantic leg",
      "q48_surrogate_keys" ->
        "crossJoin(broadcast(<one-row max-surrogate-key frame>)) for the key base",
      "x6_kmv_overlap" ->
        "pair enumeration over the |event_type|-row post-aggregate sketch frame (constant size)",
      "x7_kmv_union" ->
        "pair enumeration over the |event_type|-row post-aggregate sketch frame (constant size)",
      "q41_daily_spine" ->
        "calendar spine x priority dim (calendar- and enum-bounded, not data-bounded)",
      "q50_gap_fill" ->
        "entity frame x calendar-bounded month spine (the q41 class — the product IS the gap-filled output grain)",
      "d14_domain_governance" ->
        "crossJoin(broadcast(<one-row post-dedup total frame>)) for the share gate",
      "p12_temperature_sample" ->
        "crossJoin(broadcast(<one-row w_total frame>)) for the integer targets",
      "p16_dsir_sample" ->
        "crossJoin(broadcast(<one-row token-totals frame>)) for the bucket votes",
      "p17_weighted_sample" ->
        "crossJoin(broadcast(<one-row w_total frame>)) for the pick boundaries",
      "p20_quality_weighted_sample" ->
        "crossJoin(broadcast(<one-row w_total frame>)) for the pick boundaries (the p17 shape)",
      "p26_rank_weighted_sample" ->
        "crossJoin(broadcast(<one-row w_total frame>)) for the pick boundaries (the p17 shape)",
      "p18_d4_diversify" ->
        "crossJoin(broadcast(<one-row w_total frame>)) for the integer targets",
      "x11_bloom_decontaminate" ->
        "crossJoin(broadcast(<one-row bloom-bitmap frame>)) + the benchmark-gram broadcast (both parameter-/eval-suite-bounded, the allowedHints adjudication)",
      "x16_join_size" ->
        "crossJoin(broadcast(<one-row exact-comparison frame>)) onto the depth-bounded inner-product frame",
      "x4_sketch_union" ->
        "crossJoin(broadcast(<one-row exact-distinct frame>)) onto the one-row union-estimate frame (bounds-oracle gate leg)",
      "x17_misra_gries" ->
        "crossJoin(broadcast(<one-row n_total frame>)) for the deficit threshold (the t9/t11 class)",
      "x18_mergeable_quantiles" ->
        "crossJoin(broadcast(<one-row exact-percentile frame>)) onto the one-row union-estimate frame (the x4 bounds-oracle gate shape)")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.local(8)
    val allowed = allowedBnlj
    var flagged = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        if (iterative.contains(name)) {
          println(f"[audit] $name%-28s SKIPPED [${iterative(name)}]")
        } else {
        val df = graft.operators.Materialize.planOnly(fn(spark, sfDir))
        val plan = df.queryExecution.executedPlan.toString
        val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
        val cart = plan.linesIterator.count(_.contains("CartesianProduct"))
        val exch = plan.linesIterator.count(_.contains("Exchange"))
        val hints = corpusBroadcastHints(df)
        val badHint = hints.nonEmpty && !allowedHints.contains(name)
        val gw = globalWindows(df)
        val badGw = gw.nonEmpty && !allowedGlobalWindows.contains(name)
        val ew = enumWindows(df)
        val badEw = ew.nonEmpty && !allowedEnumWindows.contains(name)
        val apj = arrayPairJoins(df)
        val badApj = apj.nonEmpty && !allowedArrayPairJoins.contains(name)
        val cl = collectAggregates(df)
        val badCl = cl.nonEmpty && !allowedCollects.contains(name)
        val note =
          if (cart > 0 || (bnlj > 0 && !allowed.contains(name)) || badHint || badGw || badEw || badApj || badCl) {
            flagged += 1
            if (badHint) s"  <== inspect [CORPUS HINT: ${hints.mkString("; ")}]"
            else if (badGw) s"  <== inspect [GLOBAL WINDOW: ${gw.mkString("; ")}]"
            else if (badEw) s"  <== inspect [ENUM WINDOW: ${ew.mkString("; ")}]"
            else if (badApj) s"  <== inspect [ARRAY PAIR JOIN: ${apj.mkString("; ")}]"
            else if (badCl) s"  <== inspect [ARRAY COLLECT: ${cl.mkString("; ")}]"
            else "  <== inspect"
          }
          else if (bnlj > 0) s"  [allowed: ${allowed(name)}]"
          else if (hints.nonEmpty) s"  [hint allowed: ${allowedHints(name)}]"
          else if (gw.nonEmpty) s"  [window allowed: ${allowedGlobalWindows(name)}]"
          else if (ew.nonEmpty) s"  [enum window allowed: ${allowedEnumWindows(name)}]"
          else if (apj.nonEmpty) s"  [array pair join allowed: ${allowedArrayPairJoins(name)}]"
          else if (cl.nonEmpty) s"  [collect allowed: ${allowedCollects(name)}]"
          else ""
        println(f"[audit] $name%-28s exchanges=$exch%2d bnlj=$bnlj cartesian=$cart hints=${hints.size} gwin=${gw.size} ewin=${ew.size} apj=${apj.size} coll=${cl.size}$note")
        }
      } catch {
        case e: Throwable => println(s"[audit] $name FAILED to plan: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    println(s"[audit] queries with UNEXPECTED nested-loop/cartesian joins or corpus-rooted hints: $flagged")
    spark.stop()
  }
}
