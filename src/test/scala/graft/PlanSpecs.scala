package graft

/** Plan-shape regression gates: the scale properties the engine claims
  * (predicate pushdown into parquet scans, broadcast dimension joins,
  * aggregated — not windowed — top-k selection) asserted against the
  * actual executed plans, so a refactor that silently loses one fails
  * the suite instead of the 100× scale-up. */
class PlanSpecs extends SparkSpec {

  private def plan(name: String): String =
    Registry.byName(name).run(spark, sf0001).queryExecution.executedPlan.toString

  test("q01/q02/q53 date predicates reach the parquet scan (PushedFilters)") {
    assert(plan("q01_pricing_summary").contains("LessThan(l_shipdate"),
      "q01 must push the l_shipdate bound into the scan")
    assert(plan("q02_filter_project").contains("GreaterThanOrEqual(l_shipdate"),
      "q02 must push the l_shipdate bound into the scan")
    val p53 = plan("q53_shipping_priority")
    assert(p53.contains("LessThan(o_orderdate") &&
      p53.contains("GreaterThanOrEqual(l_shipdate"),
      "q53 must push both date bounds into the scans")
  }

  test("dimension joins broadcast (q03 customer, q53 dims)") {
    assert(plan("q03_join_agg").contains("BroadcastHashJoin"))
    assert(plan("q53_shipping_priority").contains("BroadcastHashJoin"))
  }

  test("knn top-k is aggregated, not windowed (N·k shuffle, not N²)") {
    // The declared knn_* queries read the shared materialized graph
    // (Materialized.table), so the scale-critical plan shape lives in
    // the producer — assert on knnGraph itself.
    val emb = Tables.load(spark, sf0001, "embeddings")
    val p = graft.knn.BruteForceKnn.knnGraph(emb, 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      "pair stream must come from the broadcast NL join")
    assert(!p.contains("Window"),
      "per-id selection must be the TopKByWeight aggregation, not a window sort")
  }

  test("jaccard pair generation is posting-list, not self-join") {
    val docs = Tables.load(spark, sf0001, "documents")
    val p = graft.text.TextQueries.jaccardPairs(docs, 0.1)
      .queryExecution.executedPlan.toString
    // no SortMergeJoin/ShuffledHashJoin of the shingle table against
    // itself — pairs expand in place (Generate) from the checkpointed
    // posting lists (the collect_list agg runs at checkpoint build)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "pair-up must come from in-place posting-list expansion, not a shingle self-join")
    assert(p.contains("Generate explode"),
      "candidate pairs must come from posting-list expansion (Generate)")
  }

  test("q70 Bloom probe side has no content shuffle before the per-doc agg") {
    val docs = Tables.load(spark, sf0001, "documents")
    val p = graft.text.LineDedup.bloomDecontaminate(docs)
      .queryExecution.executedPlan.toString
    // the ONLY exchanges allowed: by doc_id into the per-doc aggregate
    // and the final ordering — never by shingle (the whole point: the
    // corpus is not shuffled on content)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("shingle")),
      s"bloom path must not shuffle on shingle:\n${exchanges.mkString("\n")}")
  }

  test("q109 band join is a bucket equi-join, never a nested loop") {
    val p = plan("q109_banded_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"banded range join must stay an equi-join on the bucket key:\n$p")
  }

  test("q107 pushes per-side disjunctions into both scans, keeps equi-join") {
    val p = plan("q107_brand_revenue")
    assert(p.contains("BroadcastHashJoin"),
      "Q19 shape must remain a hash equi-join")
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      "lineitem scan must receive the quantity disjunction")
    assert(p.contains("Or(Or(And(EqualTo(p_brand"),
      "part scan must receive the brand/size disjunction")
  }

  test("q110 fresh-slice bound reaches the events scan in the nanos domain") {
    val p = plan("q110_incremental_daily")
    assert(p.contains("GreaterThanOrEqual(ts"),
      s"fresh slice must push its cutover into the scan:\n$p")
  }

  test("q127 skyline merge has no single-partition funnel") {
    // round-4 verdict #2: the survivor merge used coalesce(1) — one
    // task holding the whole frontier (O(n) for anti-correlated data).
    // The sweep runs in RDD space (invisible to the SQL plan string),
    // so the gate inspects the output RDD directly: the frontier must
    // come back range-partitioned across the configured partition
    // count, and for an everyone-survives planted set no single
    // partition may hold the whole thing.
    import spark.implicits._
    val n = 2000
    val pts = (0 until n).map(i => (i.toLong, i.toLong, i))
    val outRdd = graft.relational.Skyline.skyline2d(pts.toDS().repartition(8)).rdd
    assert(outRdd.getNumPartitions ==
      spark.sessionState.conf.numShufflePartitions,
      "skyline output must stay range-partitioned, not funneled")
    val sizes = outRdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(sizes.max < n,
      s"one partition holds the entire frontier (sizes=${sizes.toSeq})")
  }

  test("q97 answers both EXISTS subqueries from one fact aggregation") {
    // round-4 verdict #4: the old plan probed full lineitem with a
    // left-semi and a left-anti join on top of the late-lines join —
    // three orderkey shuffles of the fact table. The re-plan derives
    // supplier multiplicity and the sole-late-supplier test from ONE
    // groupBy(l_orderkey) pass; no semi/anti probe may reappear.
    val p = plan("q97_waiting_suppliers")
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"),
      s"q97 must not probe the fact table with semi/anti joins:\n$p")
  }

  test("q69 sentence-dedup window is hash-partitioned, never global") {
    val qe = Registry.byName("q69_line_dedup").run(spark, sf0001).queryExecution
    val global = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.forall(_.foldable) => w
    }
    assert(global.isEmpty, "sentence-frequency window must partition by the hash")
  }

  test("q180/q189 span detection: count-only gram aggregation, no posting lists, per-doc windows only") {
    Seq("q180_dup_spans", "q189_decontam_spans").foreach { name =>
      val qe = Registry.byName(name).run(spark, sf0001).queryExecution
      val p = qe.executedPlan.toString
      // the duplicated/benchmark gram set joins back as an equi-join on
      // the gram key — no nested loop, no shingle self-join explosion
      assert(!p.contains("NestedLoop"), s"$name must join on the gram key")
      // no collect_list postings ship — the occurrence filter is a
      // COUNT aggregate (partial-agg'd map-side)
      assert(!p.contains("collect_list"), s"$name must not build posting lists")
      val global = qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.forall(_.foldable) => w
      }
      assert(global.isEmpty, s"$name island windows must partition by doc")
    }
  }

  test("q182 classifier: model probe is an equi-join on the token key, class table broadcasts") {
    val p = plan("q182_token_classifier")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the per-class totals/langs tables must broadcast")
    assert(!p.contains("CartesianProduct"),
      "the only cross join is the broadcast class expansion")
  }

  test("q181 semdedup: within-cluster pairs come from an equi-join on cid, never all-pairs") {
    val p = plan("q181_semdedup")
    // pair generation must key on the learned cluster id — the cosine
    // and id< predicates ride as join conditions on an equi-join, not
    // as filters over an unblocked pair stream
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "pair generation must be blocked on the learned cluster id")
  }

  test("q213 exact-substring spans: pair generation is a gram-key equi-join, chain windows per diagonal") {
    // audit the UNDERLYING pipeline (the declared query reads the
    // materialized snapshot, whose plan is just a parquet scan)
    val qe = graft.text.ExactSubstr.sharedSubstrings(
      Tables.load(spark, sf0001, "documents")).queryExecution
    val p = qe.executedPlan.toString
    // occurrence pairs come from equi-joins on the gram hash — never a
    // nested loop over positions, never an unblocked doc self-join
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "pair generation must equi-join on the gram key")
    // the duplicated-gram filter is a COUNT aggregate (map-side
    // combined), not a posting list
    assert(!p.contains("collect_list"), "no posting lists ship")
    // chain-merge windows partition by (doc_a, doc_b, d) — bounded by
    // document length, never global
    val global = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.forall(_.foldable) => w
    }
    assert(global.isEmpty, "diagonal chain windows must partition by pair+diagonal")
    // the declared q213 reads the shared snapshot: one scan, no rebuild
    val declared = Registry.byName("q213_shared_substrings")
      .run(spark, sf0001).queryExecution.executedPlan.toString
    assert(declared.contains("Scan parquet") || declared.contains("FileScan"),
      "q213 must read the materialized span table")
  }

  test("bench action dispatch: count()-eliminable decoration joins are row-materialized, plain plans are not") {
    // q214's final left join onto a unique-keyed aggregate disappears
    // under count() — Bench must time it via full materialization
    assert(Bench.countEliminatesJoins(
      Registry.byName("q214_substr_dedup_text").run(spark, sf0001)),
      "q214's decoration join must trigger row-materialization")
    // a join whose cardinality count() genuinely needs keeps the cheap
    // count action (q03's fact join determines the row count)
    assert(!Bench.countEliminatesJoins(
      Registry.byName("q03_join_agg").run(spark, sf0001)),
      "q03 must stay on the count() action")
    // no-join plans trivially stay on count()
    assert(!Bench.countEliminatesJoins(
      Registry.byName("q01_pricing_summary").run(spark, sf0001)))
  }

  test("q214 remove-span output: range cut is an anti-join keyed on doc_id, merge windows per doc") {
    val qe = Registry.byName("q214_substr_dedup_text")
      .run(spark, sf0001).queryExecution
    val p = qe.executedPlan.toString
    // the token cut anti-joins tokens against merged ranges WITH the
    // doc_id equality — a pure nested-loop anti over (tokens × ranges)
    // would be quadratic in corpus size
    assert(p.contains("LeftAnti"), "span cut must be an anti join")
    assert(!p.contains("BroadcastNestedLoopJoin LeftAnti"),
      "anti join must key on doc_id (hash/broadcast-hash), not scan all ranges per token")
    val global = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.forall(_.foldable) => w
    }
    assert(global.isEmpty, "range-merge windows must partition by doc_id")
  }

  test("q215 filtered search runs through the fused TopKJoin, filter applied BEFORE the broadcast") {
    val p = plan("q215_filtered_ann")
    assert(p.contains("TopKJoin"),
      s"filtered search must use the fused top-k node, not a pair window:\n$p")
    assert(!p.contains("Window"),
      "selection must be the fused aggregation, not a window over the pair stream")
    // the label filter prunes BELOW the broadcast (a modulo predicate
    // can't be a parquet PushedFilter, but it must evaluate at the
    // candidate scan, before rows ship) — a selective filter makes the
    // operator cheaper, never rides on the output. Assert on the TREE
    // (round-11 advice: comparing flat-string offsets of the first
    // BroadcastExchange could match the wrong node once a plan carries
    // several): find the TopKJoinExec, take ITS broadcast child, and
    // require the modulo filter inside that subtree.
    val exec = Registry.byName("q215_filtered_ann").run(spark, sf0001)
      .queryExecution.executedPlan
    val unwrapped = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val topk = unwrapped.collect {
      case t: org.apache.spark.sql.graft.TopKJoinExec => t
    }
    assert(topk.size == 1, s"expected exactly one TopKJoinExec:\n$p")
    val bxs = topk.head.right.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(bxs.nonEmpty,
      s"candidate side must arrive through a BroadcastExchange:\n$p")
    assert(bxs.head.toString.contains("% 2) = 0"),
      s"the modulo candidate filter must sit under the TopKJoin's own " +
        s"broadcast side:\n${bxs.head}")
  }

  test("q219 hop expansion: adjacency/scoring joins stay equi-joins, windows partition by qid") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val edges = graft.knn.KnnQueries.knn10(spark, sf0001)
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    // isolate ONE hop's plan behind a checkpointed initial state (the
    // declared query's per-hop localCheckpoints hide the hop internals)
    val st = graft.knn.GraphSearch.initState(emb, queries, 4).localCheckpoint()
    val qe = graft.knn.GraphSearch.expand(st, edges, emb, queries, beam = 4)
      .queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"hop expansion must be equi-joins only (the one crossJoin lives in " +
        s"the seeds init, not the per-hop path):\n$p")
    val global = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.forall(_.foldable) => w
    }
    assert(global.isEmpty, "frontier ranking must partition by qid")
  }

  test("q227 upsert list patch: fused TopKJoin candidates, bounded k-slice aggregation, no window") {
    // the base-row patch must be (existing ∪ fused-top-k candidates)
    // re-ranked by a per-id AGGREGATION whose state is bounded at 2k
    // rows (sort_array + slice over collect_list), never a global sort
    // or a window over the union — one k-row group per id crosses the
    // shuffle
    val emb = Tables.load(spark, sf0001, "embeddings")
    val base = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 4 =!= 3)
    val delta = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 4 === 3)
    val existing = org.apache.spark.sql.graft.TopKJoin.knn(base, base, 10)
      .localCheckpoint()
    val patched = graft.knn.GraphIndexStore.patchGraphApprox(
      base, existing, delta, k = 10, beam = 4, hops = 1, nSeeds = 4)
    val qe = patched.queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"the patch path must never go all-pairs:\n$p")
    val global = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.forall(_.foldable) => w
    }
    assert(global.isEmpty, "re-ranking must partition by id, never globally")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate") ||
      p.contains("HashAggregate"),
      s"the per-id k-slice must be an aggregation:\n$p")
  }

  test("q218/q220 centroid assignment: one narrow codegen projection, no join, no shuffle") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val cent = graft.similarity.Kmeans.centroids(emb, 8, 2, portable = true)
    val df = graft.similarity.Kmeans.assign(emb.select("vec_id", "embedding"), cent)
    val p = df.queryExecution.executedPlan.toString
    // round-15: the bounded (nlist-row) quantizer rides task-shipped
    // inside the codegen argmin expression — the former broadcast-join
    // + per-id min(struct) streamed N×nlist candidate rows (measured
    // 851.8 s of a 937.5 s index write at 1M×1024)
    assert(p.contains("nearest_centroid_idx"),
      s"assignment must be the codegen argmin expression:\n$p")
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"assignment must be a narrow projection — no join, no shuffle:\n$p")
    assert(!p.contains("Window"),
      "the per-point argmin must never be a window")
    // arm equivalence: the expression's assignments equal the
    // broadcast-join + min(struct(d, cid)) form bit-for-bit (same
    // strict-fold Euclidean, first-wins tie == lowest cid)
    import org.apache.spark.sql.functions.{broadcast, col, min, struct}
    val joined = emb.select(col("vec_id"), col("embedding"))
      .join(broadcast(cent))
      .select(col("vec_id"), struct(
        graft.linalg.Distances.euclidean(col("embedding"), col("cvec")).as("d"),
        col("cid").as("cid")).as("cand"))
      .groupBy(col("vec_id"))
      .agg(min(col("cand")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
    // full sorted sequences, not maps: a repeated or dropped row must
    // show as a row-count difference
    val a = df.select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    val b = joined.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(a.size == emb.count(), "one assignment row per point")
    assert(a == b, "expression argmin must equal the join-form argmin")
  }

  test("q191 routing: the codegen argmin on the stream, no lambda over a centroid array") {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => starts.add(s); ()
        case _ => ()
      }
    }
    org.apache.spark.graft.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      graft.streaming.StreamingPipelines.annIngestAvailableNow(spark, sf0001).collect()
      org.apache.spark.graft.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(l)
    // the micro-batch executions carry the streaming batch description
    import scala.jdk.CollectionConverters._
    val batches = starts.asScala.toSeq.filter(_.description.contains("batch = "))
      .map(_.physicalPlanDescription)
    assert(batches.nonEmpty, "no micro-batch execution was seen")
    assert(batches.exists(_.contains("nearest_centroid_idx")),
      s"arrivals must be routed by the codegen argmin:\n${batches.mkString("\n")}")
    assert(!batches.exists(_.contains("lambdafunction")),
      s"routing must not fold a lambda over a centroid array:\n${batches.mkString("\n")}")
  }

  test("q217 collapse: per-group top-m is the k-min aggregation over the pair stream, not a window") {
    val p = plan("q217_collapsed_topk")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "pair stream must come from the broadcast NL join")
    // the per-(qid,group) reduction ships <= m rows per packed key —
    // the typed TopKByWeight aggregate, with map-side partial combine
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"per-group top-m must be the typed k-min aggregation:\n$p")
    // the only windows rank the ALREADY-REDUCED survivors: every
    // Window node must sit above the aggregate, none over the raw
    // pair join output
    val qe = Registry.byName("q217_collapsed_topk").run(spark, sf0001)
      .queryExecution
    val badWindow = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.collectLeaves().size > 1 &&
          w.collect {
            case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
            case o if o.getClass.getSimpleName.contains("SerializeFromObject") => o
          }.isEmpty => w
    }
    assert(badWindow.isEmpty,
      "no window may rank the raw pair stream - reduction must come first")
  }

  test("q216 MMR greedy steps: qid-partitioned argmax windows only, shortlist never rebuilt") {
    // the declared query's final frame is a union of checkpointed
    // picks; audit the greedy machinery by rebuilding it on sf0.001
    val emb = Tables.load(spark, sf0001, "embeddings")
    val qe = graft.similarity.VectorSearch.mmrRerank(emb, kCand = 5,
      kSel = 3, queryPred = org.apache.spark.sql.functions.col("vec_id") < 5)
      .queryExecution
    val global = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.forall(_.foldable) => w
    }
    assert(global.isEmpty, "MMR argmax windows must partition by qid")
    // every greedy step replans over the CHECKPOINTED shortlist — the
    // ANN join must not reappear in the final plan
    assert(!qe.executedPlan.toString.contains("TopKJoin"),
      "greedy steps must read the checkpointed shortlist, not re-run the ANN join")
  }
}
