package graft.operators

import graft.SparkSpec

/** Physical-plan pins: the properties that make these plans survive a
  * 100× scale-up are asserted here, so a regression that silently
  * un-broadcasts a dim or drops a pushed filter fails the suite, not
  * just the benchmark.
  */
class PlanSpec extends SparkSpec {

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: shipdate filter reaches the parquet scan (PushedFilters)") {
    val p = physical(Relational.q1Agg(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // partial aggregation before the exchange (map-side combine)
    assert(p.contains("HashAggregate"))
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("q1: scan reads only the referenced columns (pruning)") {
    val p = physical(Relational.q1Agg(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment"))
    assert(!readSchema.contains("l_partkey"))
    assert(readSchema.contains("l_quantity"))
  }

  test("q3: dims broadcast; top-k is TakeOrderedAndProject, not global sort") {
    val p = physical(Relational.q3TopK(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q5: all five dims broadcast (single shuffle-free join chain)") {
    val p = physical(Relational.q5Regional(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4)
    // the only exchange feeds the final aggregation/sort, not the joins
    assert(!p.contains("SortMergeJoin"))
  }

  test("q6: all three predicates pushed; single partial+final agg") {
    val p = physical(Relational.q6Forecast(spark, sf))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(Seq("l_shipdate", "l_discount", "l_quantity")
      .forall(pushed.contains))
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("curate: dropped-id anti join is UNHINTED (corpus-proportional " +
      "set must not be forced into a broadcast)") {
    // the logical plan must carry no user broadcast hint: a forced
    // broadcast of the dropped-id set is a driver OOM at real drop
    // rates; AQE may still CHOOSE broadcast at toy scale, which is fine
    // pinned structurally (Join.hint), not via plan-string grep: a
    // column or relation merely NAMED "broadcast" must not false-fail
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join => LJoin}
    val df = Curate.pipeline(spark, sf)
    val joins = df.queryExecution.optimizedPlan
      .collect { case j: LJoin => j }
    assert(joins.nonEmpty, "expected at least the anti join in the plan")
    joins.foreach { j =>
      assert(Seq(j.hint.leftHint, j.hint.rightHint)
        .forall(_.forall(_.strategy.forall(_ != BROADCAST))),
        s"join carries a forced broadcast hint: ${j.hint}")
    }
    val p = physical(df)
    assert(p.contains("LeftAnti"))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("anti join stays a hash join (no cartesian/nested loop)") {
    val p = physical(Relational.antiJoinCustomers(spark, sf))
    assert(p.contains("LeftAnti"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("qast filters are pushed into the scan like the reference pushes SQL") {
    val p = physical(QastQueries.arithFilter(spark, sf))
    // conjuncts on parquet-native columns land in PushedFilters
    assert(p.contains("PushedFilters:") &&
      p.contains("IsNotNull(l_quantity)"))
  }

  test("filtered ANN: the label predicate reaches the parquet reader " +
      "(range-shaped, so candidates shrink at row-group-skip time)") {
    val p = physical(Ann.search(spark, sf, "ann_ivf_filtered_topk"))
    assert(p.contains("GreaterThanOrEqual(label,6)"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("bm25: posting-probe shape — query terms reach tf as a " +
      "broadcast hash join, nothing cartesian") {
    val p = physical(Retrieval.bm25Top(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop join is the 1-row stats broadcast
    assert(!p.contains("BroadcastNestedLoopJoin") ||
      "BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1)
  }

  test("bm25 multi-term + phrase: scoring still touches only " +
      "query-term postings (broadcast probe), nothing cartesian") {
    Seq(Retrieval.bm25MultiTop(spark, sf),
        Retrieval.bm25MultiAndTop(spark, sf),
        Retrieval.bm25PhraseTop(spark, sf)).foreach { df =>
      val p = physical(df)
      assert(p.contains("BroadcastHashJoin"), p.take(2000))
      assert(!p.contains("CartesianProduct"))
      // only the 1-row stats broadcast may be a nested loop
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1)
    }
  }

  test("hybrid: lexical candidates meet on the shingle equi-join " +
      "(never all-pairs); no cartesian product anywhere") {
    val p = physical(Retrieval.hybridTopK(spark, sf))
    assert(!p.contains("CartesianProduct"))
    // the semantic side's broadcast(queries) x corpus nested loop is
    // the intended bruteTopK shape; the lexical side must stay a hash
    // join on the shingle key
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("minhash LSH: bucket self-join is an equi-join on (band, bucket)") {
    val p = physical(Dedup.minhashLsh(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("blocked embedding near-dup joins on block-pair keys, never nested-loop") {
    val p = physical(Dedup.embeddingPairsBlocked(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("blocked exact top-k: pure equi-join shape (no broadcast needed), " +
      "rank-K filter split into a partial per-partition WindowGroupLimit") {
    // Catalyst may still broadcast the tiny query side at toy scale —
    // that's an optimizer choice, not a structural requirement. The
    // scale property is that with broadcast off the plan is a plain
    // shuffled equi-join, never nested-loop (bruteTopK by contrast
    // HINTS broadcast, which no threshold can override).
    val p = withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      physical(Ann.search(spark, sf, "ann_blocked_topk"))
    }
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastExchange"))
    // stage-2 shuffle must carry only per-partition top-K survivors
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("Partial"))
  }

  test("windowed event agg keeps partial aggregation (map-side combine)") {
    val p = physical(graft.streaming.EventStream.windowedAgg(
      graft.Tables.events(spark, sf)))
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("as-of join is one window pass, never an inequality join") {
    val p = physical(Temporal.asOfJoin(spark, sf))
    // the per-user cartesian formulations show up as one of these
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("Window") || p.contains("RunningWindowFunction"))
  }

  test("gap-fill is grid-explode + equi-join + windows: no cartesian, " +
      "no inequality join, no self-join probing") {
    val p = physical(Temporal.gapFill(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Window"))
    // neighbor lookup must come from window frames, not a per-gap join:
    // exactly one join (grid against daily)
    assert("Join".r.findAllIn(p).size >= 1)
  }

  test("binned interval join is an equi-join on the bin — the naive " +
      "inequality form's BNLJ never appears") {
    val p = physical(Temporal.intervalJoinBinned(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"expected a shuffled equi-join on bin:\n$p")
  }

  test("range join broadcasts the constant bands side") {
    val p = physical(Temporal.rangeJoinBands(spark, sf))
    // inequality-only condition + tiny side => broadcast nested loop,
    // not a shuffled cartesian
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("pivot with pinned values is a single aggregation pass (no distinct job)") {
    val df = Relational.pivotStatus(spark, sf)
    assert(df.columns.toSeq == Seq("o_orderpriority", "F", "O", "P"))
    val p = physical(df)
    assert("HashAggregate".r.findAllIn(p).length >= 2) // partial+final
  }

  test("grouping sets expand before the shuffle (one Expand, one Exchange path)") {
    val p = physical(Relational.groupingSetsOrders(spark, sf))
    assert(p.contains("Expand"))
  }

  test("stratified sample filter is evaluated scan-side (no shuffle before filter)") {
    val p = physical(Sampling.stratified(spark, sf))
    // one aggregation shuffle only; the md5 filter happens pre-agg
    assert("Exchange".r.findAllIn(p).length <= 2)
  }

  test("q19: disjunction factored per side — quantity OR pushed to lineitem scan") {
    val p = physical(Relational.q19Disjunctive(spark, sf))
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    // lineitem scan sees the quantity disjunction, part scan the
    // brand/size one — neither side scans unfiltered
    assert(scans.exists(l => l.contains("l_quantity") && l.contains("Or(")))
    assert(scans.exists(l => l.contains("p_brand")))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q10: dims join the aggregated grain, top-20 is TakeOrderedAndProject") {
    val p = physical(Relational.q10Returns(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastHashJoin"))
    // returnflag filter reaches the lineitem scan
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("l_returnflag")))
  }

  test("contamination: benchmark shingle index broadcasts; probe is a hash join") {
    val p = physical(TextAnalysis.contamination(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("repetition: both gram counts keep partial aggregation") {
    val p = physical(TextAnalysis.repetition(spark, sf))
    // two explode→count pipelines, each partial+final
    assert("HashAggregate".r.findAllIn(p).length >= 4)
    assert(!p.contains("CartesianProduct"))
  }

  test("ivf: centroid assignment folds via aggregation, probes broadcast") {
    val p = physical(Ann.search(spark, sf, "ann_ivf_topk"))
    // the probe is an equi-join on cell id with the tiny probe set built
    // (broadcast); the corpus never nested-loops against itself
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    // argmax folds as partial+final aggregation (SortAggregate: max_by
    // over a struct ordering is not hash-aggregable; the N×C scored
    // rows stream out of the broadcast join already clustered by
    // vec_id, so the pre-agg sort is near-free) — the exchange carries
    // one row per vector, never the N×C pairs
    assert("SortAggregate".r.findAllIn(p).length >= 2)
  }

  test("q2: argmin folds as aggregation; supplier geo dim broadcasts") {
    val p = physical(Relational.q2MinCostSupplier(spark, sf))
    // the decorrelated min_by runs as partial+final aggregation — the
    // exchange carries one best-offer row per part, never all offers
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert("SortAggregate|HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("q8: market share is ONE pass over lineitem (no self-join)") {
    val p = physical(Relational.q8MarketShare(spark, sf))
    val factScans = p.linesIterator
      .count(l => l.contains("Scan parquet") || l.contains("FileScan"))
    // lineitem, orders, customer, nation×2, region, supplier = 7 scans
    // — exactly one of the fact table; the conditional sum shares the
    // total sum's aggregation
    assert(factScans <= 7, s"expected <=7 scans, plan had $factScans")
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("q20: supplier shortlist is a LEFT SEMI on broadcast keys") {
    val p = physical(Relational.q20PromoSuppliers(spark, sf))
    assert(p.contains("LeftSemi"))
    assert(p.contains("BroadcastHashJoin"))
    // promo-part name prefix reaches the part scan
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("p_name")))
  }

  test("q21: EXISTS/NOT-EXISTS pair stays semi + anti hash joins") {
    val p = physical(Relational.q21WaitingSuppliers(spark, sf))
    assert(p.contains("LeftSemi"))
    assert(p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject")) // top-20, no global sort
  }

  test("pii_scrub: one narrow projection — no exchange below the " +
      "presentation sort, regex ops codegen'd (no UDF)") {
    val p = physical(Pii.scrub(spark, sf))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
    // only the final orderBy may exchange; detection/redaction are
    // per-partition column ops
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges <= 1, s"PII pass must not shuffle:\n$p")
  }

  test("mix: budget table broadcasts; the admission cumsum is the " +
      "rebased global prefix — NO window partitioned by source/lang " +
      "(a per-source window caps parallelism at the source count)") {
    for (df <- Seq(Mix.mixSources(spark, sf), Mix.mixArrival(spark, sf),
        Mix.mixUpsample(spark, sf))) {
      val p = physical(df)
      assert(p.contains("BroadcastHashJoin"))
      assert(!p.contains("SortMergeJoin"))
      assert(!p.contains("CartesianProduct"))
      // a window PARTITIONED by source/lang would mean the corpus
      // cumsum serializes per source — the 100 TB scale-killer this
      // operator family explicitly avoids. Partition keys print as a
      // bare attribute before the comma (`windowspecdefinition(source#3,
      // pri#8 ASC …`); the legitimate bounded windows only ORDER by
      // source/lang/pid (`source#133 ASC NULLS FIRST, …`) over
      // source-count- or partition-count-sized frames.
      assert("windowspecdefinition\\((source|lang)#\\d+,".r
        .findFirstIn(p).isEmpty,
        s"corpus-sized per-source window found:\n$p")
    }
  }

  test("dup-ngrams: shingle doc-frequency joins back as a hash " +
      "equi-join, never doc x doc") {
    val p = physical(TextAnalysis.dupNgrams(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("lm score: gram-count joins are equi-joins; the only nested " +
      "loop is the 1-row vocabulary broadcast") {
    val p = physical(TextAnalysis.lmScore(spark, sf))
    assert(!p.contains("CartesianProduct"))
    // the vocab crossJoin is a 1-row broadcast — anything else
    // nested-loop would be a corpus-sized disaster
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1)
    assert(p.contains("HashAggregate")) // map-side combinable counts
  }

  test("bpe pairs: partial aggregation below the shuffle; top-50 is " +
      "TakeOrderedAndProject, not a global sort") {
    val p = physical(TextAnalysis.bpePairs(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("split assignment: a pure scan-side projection — no exchange, " +
      "only the referenced columns read") {
    val p = physical(Sampling.splitAssign(spark, sf))
    assert(!p.contains("Exchange"), s"split assignment must not shuffle:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && !readSchema.contains("text"))
  }

  test("rag chunks: narrow chunking — no join, no aggregate, the only " +
      "exchange is the presentation sort") {
    val p = physical(Chunk.ragChunks(spark, sf))
    assert(!p.contains("Join"), s"chunking must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"chunking must not aggregate:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no shuffle besides the output sort:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("text") && !readSchema.contains("lang"))
  }

  test("dup spans + scrub: window-hash equi-joins only, never a " +
      "cartesian or nested loop") {
    Seq(TextAnalysis.dupSpans(spark, sf),
        TextAnalysis.spanScrub(spark, sf)).foreach { df =>
      val p = physical(df)
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(p.contains("HashAggregate")) // df count is map-side combinable
    }
  }

  test("df-capped jaccard: equi-joins throughout (hot-shingle path " +
      "adds no nested loop)") {
    val p = physical(Dedup.ngramJaccardDfCapped(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("semantic dedup: quantizer scoring runs once into a cached " +
      "assignment; the in-cell pair join is an equi-join") {
    // the suite session's cache manager is global: if another suite
    // already EXECUTED the shared cached assignment, its printout
    // flips to `isFinalPlan=true` and re-prints the initial plan too,
    // doubling the BNLJ count per cached relation. Clear first so the
    // printout shape is deterministic regardless of suite order.
    spark.catalog.clearCache()
    val p = physical(Dedup.semantic(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // the N×C centroid scoring lives behind the cached assignment —
    // every consumer reads the InMemoryTableScan, no consumer
    // re-derives the broadcast nested-loop scoring. The plan STRING
    // re-prints the cached relation under every table scan; each
    // printout carries exactly TWO benign BNLJs (the N×C scoring
    // crossJoin and the 1-row sublinear-stride count broadcast inside
    // Ann.centroids), so the pin is count equality: every BNLJ
    // occurrence belongs to a cached-plan printout, none free-standing.
    val imr = "InMemoryRelation".r.findAllIn(p).length
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(imr >= 1, p)
    assert(bnlj == 2 * imr,
      s"free-standing nested-loop scoring: $bnlj vs 2x$imr\n$p")
    // the pair join on the cell id itself hash-/sort-merge-joins
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("residual IVF-PQ: ranking joins codes to broadcast LUTs on " +
      "(cell, subspace, code) — no cartesian; partial top-k via " +
      "WindowGroupLimit; aggregations two-phase") {
    val p = physical(Ann.search(spark, sf, "ann_ivfpq_topk"))
    assert(!p.contains("CartesianProduct"), p)
    // the corpus-sized ranking join is a HASH join on the composite
    // (cell, subspace, code) key — the scan side never pairs with
    // anything but its own cell's LUT rows. (The N×C centroid scoring
    // inside assignment/probing is a deliberate broadcast nested loop
    // over the tiny centroid set — the ann_ivf_topk shape — so a
    // blanket no-BNLJ pin would be wrong here.)
    assert(p.contains("BroadcastHashJoin [cell"), p)
    // rank-≤-K splits into a per-partition partial before the exchange
    assert(p.contains("WindowGroupLimit"), p)
    // the ADC sum and the argmin folds keep map-side combine
    assert(p.contains("Partial"), p)
  }

  test("q2/q8 value invariants: one row per part; share within [0,1]") {
    val q2 = Relational.q2MinCostSupplier(spark, sf).collect()
    assert(q2.map(_.getLong(0)).distinct.length == q2.length)
    val q8 = Relational.q8MarketShare(spark, sf).collect()
    assert(q8.nonEmpty)
    q8.foreach { r =>
      val share = r.getDouble(1)
      assert(share >= 0.0 && share <= 1.0, s"share $share")
    }
  }

  private def windowsOf(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    outerPlanNodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
  }

  test("sessionize/top_paths: every window is user-partitioned (a " +
      "billion small partitions, never a global sort)") {
    Seq("events_sessionize" -> Behavior.sessionize(spark, sf),
        "events_top_paths" -> Behavior.topPaths(spark, sf)).foreach {
      case (name, df) =>
        val ws = windowsOf(df)
        assert(ws.nonEmpty, s"$name: expected session windows")
        ws.foreach { w =>
          assert(w.partitionSpec.exists(
            _.references.exists(_.name == "user_id")),
            s"$name: window not partitioned by user_id:\n$w")
        }
    }
  }

  test("profile_gini: the only windows sit on the P-row offsets or " +
      "the 25-row nation counts, never the customer frame") {
    windowsOf(Profile.giniSpend(spark, sf)).foreach { w =>
      val onTinyAgg = outerPlanNodes(w).exists {
        case a: org.apache.spark.sql.execution.aggregate
            .BaseAggregateExec =>
          a.output.exists(x => x.name == "pid" || x.name == "cnt")
        case _ => false
      }
      assert(onTinyAgg, s"Window over a non-tiny frame:\n$w")
    }
  }

  test("orders_item_cf: pair enumeration stays an equi-join and the " +
      "top-k window is partitioned by the item key") {
    val df = Basket.itemCf(spark, sf)
    val ws = windowsOf(df)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "pair join degenerated to a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "pair join degenerated to a nested loop")
    assert(ws.nonEmpty)
    ws.foreach { w =>
      assert(w.partitionSpec.exists(_.references.exists(_.name == "i")),
        s"top-k window not partitioned by item:\n$w")
    }
  }
}
