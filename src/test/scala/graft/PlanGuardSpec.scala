package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the properties that make the
  * registered queries scale-safe (no accidental cartesian products in
  * the banded/bucketed paths, broadcasts where the design says
  * broadcast, partition pruning at the scan) asserted against the
  * physical plan, so a refactor that silently degrades the plan fails
  * here instead of in a 100 TB run.
  */
class PlanGuardSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val p = rawPlan(name)
    // loan-scoped queries (Caching.withPersisted) checkpoint eagerly,
    // so the returned frame is a bare ExistingRDD scan — the plan
    // under guard is the loan body's, captured at loan time (and
    // consumed here: the slot self-clears on read)
    val loan = graft.ops.Caching.lastLoanPlan
    if (loan.nonEmpty && p.contains("Scan ExistingRDD")) loan else p
  }

  /** The returned frame's own physical plan, never the loan swap —
    * for queries that contain ExistingRDD scans mid-plan by design
    * (iterative localCheckpoints, e.g. the Lloyd quantizer).
    */
  private def rawPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  test("banded/bucketed similarity paths never degenerate to an all-pairs join") {
    // e_ann_bruteforce / e_cos_neardup are EXCLUDED: all-pairs is their
    // documented contract (they are the verifiers for these paths).
    // e_ann_ivf is excluded too: its crossJoin against the single-row
    // broadcast centroid array is a BroadcastNestedLoopJoin by design.
    // At test scale a dropped equi-key plans BroadcastNestedLoopJoin
    // (small side broadcastable), NOT CartesianProduct — guard both.
    for (q <- Seq("e_ann_lsh", "e_cos_neardup_lsh", "e_semantic_contam",
      "d_minhash_lsh", "d_simhash_pairs", "d_ngram_jaccard",
      "d_contamination", "e_ann_lsh_planted")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans an all-pairs join — the band/bucket equi-key is gone")
    }
  }

  test("Lloyd quantizer: assignment is a map-only broadcast pass, means collect only the bounded sample") {
    val p = rawPlan("e_ann_ivf_lloyd")
    // the corpus-sized pass (final assignment) must score against the
    // broadcast single-row centroid array — BroadcastNestedLoopJoin by
    // design, like e_ann_ivf — and never a shuffled pairwise join
    assert(p.contains("BroadcastNestedLoopJoin"),
      "centroid array no longer broadcasts — assignment would shuffle the corpus")
    assert(!p.contains("CartesianProduct"),
      "quantizer plans a cartesian product")
  }

  test("q5 dimension joins broadcast") {
    assert(plan("q5_local_supplier").contains("BroadcastHashJoin"))
  }

  test("range/overlap/fuzzy joins stay equi-joins on their bin keys") {
    // the binning decomposition exists exactly to avoid the
    // nested-loop plan a raw non-equi join would get; if the bin
    // equality ever falls out of the condition these degenerate
    for (q <- Seq("o_range_join", "o_interval_overlap", "d_fuzzy_pairs",
      "ev_attribution")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans an all-pairs join — the bin equi-key is gone")
    }
  }

  test("funnel plans one exchange for all chained step windows") {
    // k whole-partition window minimums over the same key must share
    // a single shuffle of the events — one hashpartitioning exchange
    // on user_id in the whole plan
    val p = plan("ev_funnel")
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(exchanges === 1,
      s"expected 1 user_id exchange for chained funnel windows, got $exchanges")
  }

  test("weighted sampling broadcasts the rate table, not the corpus") {
    assert(plan("p_weighted_sample").contains("BroadcastHashJoin"))
  }

  test("contamination scan broadcasts the probe gram side") {
    assert(plan("d_contamination").contains("BroadcastHashJoin"))
  }

  test("semantic decontamination broadcasts the eval band keys") {
    // the corpus must never shuffle for the scan: the eval side's
    // exploded band keys ride a broadcast hash join onto the corpus
    // buckets (map-side at 100 TB); a shuffle join here would move
    // the whole corpus on (band, bkey)
    val p = plan("e_semantic_contam")
    assert(p.contains("BroadcastHashJoin"),
      s"e_semantic_contam lost the broadcast eval side:\n$p")
  }

  test("partition-pruned sink scan carries partition filters") {
    // the column must appear INSIDE the PartitionFilters bracket: every
    // parquet scan prints an (often empty) PartitionFilters key, and an
    // unpartitioned write would still mention the column in PushedFilters
    val p = plan("s_partition_prune")
    val pruned = "PartitionFilters: \\[[^\\]]*o_orderstatus".r
      .findFirstIn(p).isDefined
    assert(pruned, "partition column is not in PartitionFilters — the " +
      "write lost its partitionBy or the filter no longer prunes")
  }

  test("IVF-PQ scored path stays a cell equi-join; linkage stays blocked") {
    // the 1-row broadcast centroid/dtable sides plan
    // BroadcastNestedLoopJoin by design (the e_ann_ivf precedent);
    // what must never appear is an unbroadcast cartesian product
    assert(!rawPlan("e_ivfpq_topk").contains("CartesianProduct"),
      "e_ivfpq_topk plans a cartesian product")
    val link = plan("d_record_linkage")
    assert(!link.contains("CartesianProduct") &&
      !link.contains("BroadcastNestedLoopJoin"),
      "d_record_linkage lost its blocking equi-key — all-pairs linkage")
  }

  test("RFM ranks use the range-partition device, not a global window") {
    // a naive `row_number() over (order by metric)` would plan a
    // Window over one partition; the device has NO window operator at
    // all (the only SinglePartition exchange is the 1-row nu/max agg)
    val p = rawPlan("ev_rfm")
    assert(!p.contains("Window"),
      "ev_rfm regressed to a window-function global rank")
    assert(p.contains("rangepartitioning"),
      "ev_rfm lost the range-partitioned rank scan")
  }

  test("upsert anti-join broadcasts the update-batch key side") {
    val p = plan("a_upsert")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"a_upsert lost the broadcast anti-join:\n$p")
  }

  test("driver smoke gate: entry() returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every gate name is registered exactly once") {
    // a Gate pairs its builder with its oracle by construction, but the
    // name-keyed views would silently keep only the last of two gates
    // sharing a name — the earlier one would never run
    val dupes = SparkEntry.gates.groupBy(_.name).collect {
      case (n, gs) if gs.size > 1 => n
    }
    assert(dupes.isEmpty, s"gate names registered more than once: ${dupes.mkString(", ")}")
    assert(SparkEntry.queries.size == SparkEntry.gates.size)
  }

  test("capPerGroup broadcasts the group counts — a map-only filter, no data shuffle") {
    val p = plan("p_cap_source")
    assert(p.contains("BroadcastHashJoin"),
      "the tiny per-group count table must broadcast onto the corpus")
  }

  test("capPerGroup broadcastCounts=false carries no hint — strategy left to Catalyst/AQE") {
    // the escape hatch for high-cardinality group keys (per-domain caps
    // at web scale): the count frame must NOT be force-broadcast, so
    // AQE can pick sort-merge when the measured size says so
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def analyzed(b: Boolean) = graft.ops.Sampling.capPerGroup(
      docs, "source", "doc_id", 10, broadcastCounts = b)
      .queryExecution.analyzed.toString
    assert(analyzed(true).contains("ResolvedHint"),
      "default path lost its broadcast hint")
    assert(!analyzed(false).contains("ResolvedHint"),
      "broadcastCounts=false still injects a broadcast hint")
  }

  test("boilerplate rewrite broadcasts the frequent-line array, no reassembly shuffle") {
    // the crossJoin against the single-row frequent-line aggregate must
    // plan as a broadcast (BroadcastNestedLoopJoin — one row, no key),
    // and the rewrite side must NOT re-aggregate per doc: exactly the
    // frequency agg's exchanges, no groupBy(doc_id) reassembly
    val p = plan("t_boilerplate")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "frequent-line set is not broadcast — the rewrite pass would shuffle")
    assert(!p.contains("CartesianProduct"),
      "single-row broadcast degraded to a cartesian product")
  }

  test("hot-bucket census plans a broadcast anti-join on all three banded paths") {
    import org.apache.spark.sql.functions._
    // cosine path: tiny synthetic frame, census on
    val emb = spark.range(20).toDF("vec_id")
      .select(col("vec_id"),
        transform(sequence(lit(1), lit(4)), i => i.cast("double")).as("embedding"))
    val cosPlan = graft.ann.Ann.cosineLshCandidates(emb, "vec_id", "embedding",
      planes = 16, bands = 4, dim = 4, maxBucketSize = 5)
      .queryExecution.executedPlan.toString
    assert(cosPlan.contains("BroadcastHashJoin") && cosPlan.contains("LeftAnti"),
      "cosine LSH census lost its broadcast anti-join")
    // simhash path
    val sh = spark.range(20).toDF("id").select(col("id"), lit(1L).as("simhash"))
    val shPlan = graft.dedup.Dedup.simhashBlockPairBuckets(sh, 6, 5)
      .queryExecution.executedPlan.toString
    assert(shPlan.contains("BroadcastHashJoin") && shPlan.contains("LeftAnti"),
      "simhash census lost its broadcast anti-join")
    // minhash path (the original census)
    val docs = spark.range(20).toDF("doc_id")
      .select(col("doc_id"), concat(lit("tok"), col("doc_id")).as("text"))
    val mhPlan = graft.dedup.Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 16, bands = 4, maxBucketSize = 5)
      .queryExecution.executedPlan.toString
    assert(mhPlan.contains("BroadcastHashJoin") && mhPlan.contains("LeftAnti"),
      "minhash census lost its broadcast anti-join")
  }

  test("stream-door minhash: only the hot blocklist is hinted — the store side is join-strategy-free") {
    import org.apache.spark.sql.functions._
    import graft.dedup.Dedup
    // the corpus signature store is O(docs × bands) rows — a binding
    // broadcast hint on it is a driver OOM at the scale the stream
    // door exists for. Pin: the analyzed plan carries exactly the two
    // broadcast hints of the hot-bucket anti-joins (tiny blocklist),
    // and the store side gains a hint ONLY via the explicit dial.
    val corpus = spark.range(8).toDF("doc_id")
      .select(col("doc_id"), concat(lit("tok"), col("doc_id")).as("text"))
    val banded = Dedup.bandedSignatures(
      Dedup.minhashSignatures(corpus, "doc_id", "text", 16), 16, 4)
    def hintCount(broadcastStore: Boolean): Int = {
      val src = spark.readStream.format("rate").load()
        .select(col("timestamp").as("ts"), col("value").as("doc_id"),
          concat(lit("tok"), col("value")).as("text"))
      val analyzed = graft.streaming.Streams.minhashIncrStream(
        src, "doc_id", "text", banded, numHashes = 16, bands = 4,
        watermark = "0 seconds", maxBucketSize = 1000,
        broadcastStore = broadcastStore)
        .queryExecution.analyzed.toString
      "ResolvedHint".r.findAllIn(analyzed).size
    }
    assert(hintCount(false) == 2,
      "store side gained (or blocklist lost) a broadcast hint")
    assert(hintCount(true) == 3,
      "broadcastStore dial no longer hints the store")
  }

  test("SemDeDup cell joins: only the blocklist (and the centroid array) broadcast — the store side is join-strategy-free") {
    import spark.implicits._
    import graft.ann.Ann
    // the semantic twin of the stream-door minhash pin: the store is
    // O(corpus) rows, so a binding broadcast hint on it is a driver
    // OOM at the scale the operator exists for — the only forced
    // broadcasts are the (<= nCells)-row centroid array and, when the
    // guard dial is set, the tiny hot-cell blocklist
    def axis(i: Int): Seq[Double] =
      Seq.tabulate(64)(d => if (d == i) 1.0 else 0.0)
    val corpus = Seq(
      (10L, axis(0)), (11L, axis(0)), (12L, axis(0)),
      (20L, axis(9)), (21L, axis(9)))
      .toDF("vec_id", "embedding")
    val cents = Ann.lloydCentroids(corpus, "vec_id", "embedding",
      nCells = 4).localCheckpoint(true)
    val store = Ann.lloydAssigned(corpus, "vec_id", "embedding", cents)
    val arrivals = Ann.lloydAssigned(
      Seq((1000020L, axis(9).updated(1, 0.01))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents)
    def hints(maxCellSize: Int, broadcastStore: Boolean): Int =
      "ResolvedHint".r.findAllIn(
        Ann.semDedupPairsAgainstStore(arrivals, store, 0.9,
          maxCellSize, broadcastStore)
          .queryExecution.analyzed.toString).size
    // base: one centroid-array broadcast per assignment (arrival side
    // + store side)
    assert(hints(Int.MaxValue, false) == 2,
      "store side gained (or an assignment lost) a broadcast hint")
    // the guard adds exactly the two blocklist anti-join broadcasts
    assert(hints(2, false) == 4,
      "hot-cell blocklist anti-joins lost their broadcast hints")
    // the store gains a hint ONLY via the explicit dial
    assert(hints(2, true) == 5,
      "broadcastStore dial no longer hints the store")
    val guarded = Ann.semDedupPairsAgainstStore(arrivals, store, 0.9,
      maxCellSize = 2).queryExecution.executedPlan.toString
    assert(guarded.contains("BroadcastHashJoin") && guarded.contains("LeftAnti"),
      s"guarded store join lost its broadcast anti-joins:\n$guarded")
    // the pruned (batch self-join) path: the guard adds its anti-join
    // inside BOTH printed sides of the self-join, and the sort-merge
    // pin must survive the guard
    def prunedHints(maxCellSize: Int): Int =
      "ResolvedHint".r.findAllIn(
        Ann.semDedupPruned(corpus, "vec_id", "embedding", 0.9,
          nCells = 4, maxCellSize = maxCellSize)
          .queryExecution.analyzed.toString).size
    assert(prunedHints(2) - prunedHints(Int.MaxValue) == 2,
      "pruned guard hint delta drifted (blocklist broadcast lost or store hinted)")
    val guardedPruned = Ann.semDedupPruned(corpus, "vec_id", "embedding",
      0.9, nCells = 4, maxCellSize = 2)
      .queryExecution.executedPlan.toString
    assert(guardedPruned.contains("SortMergeJoin"),
      s"guarded semDedupPruned lost its sort-merge pin:\n$guardedPruned")
  }

  test("tfidf persistInput collapses the triple source scan to one cached pass") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 10 === 0)
    def count(p: String, needle: String): Int = needle.r.findAllIn(p).size
    // default: the tf/df/corpus-count lineages each re-read the source.
    // Collect the expected values NOW — once persistInput registers the
    // cache below, CacheManager would substitute the InMemoryRelation
    // into ANY later identical plan and a "fresh" comparison run would
    // silently read the cache too (cache-to-cache proves nothing).
    val uncachedQ = graft.text.TfIdf.topTerms(docs, "doc_id", "text", 3)
    val cold = uncachedQ.queryExecution.executedPlan.toString
    assert(count(cold, "FileScan parquet") >= 2,
      s"expected multiple source scans, got:\n$cold")
    val expected = uncachedQ.collect().toSeq
    // persistInput: every lineage use reads the cache. The plan string
    // reprints the cached plan (with its inner FileScan) under each
    // InMemoryRelation, so "no bare scans" = every FileScan occurrence
    // sits inside a cached-relation printout.
    val cached = graft.text.TfIdf.topTerms(docs, "doc_id", "text", 3,
      persistInput = true)
    val warm = cached.queryExecution.executedPlan.toString
    assert(warm.contains("InMemoryTableScan"),
      s"persistInput did not route reads through the cache:\n$warm")
    assert(count(warm, "FileScan parquet") == count(warm, "InMemoryRelation"),
      s"persistInput still re-scans the source outside the cache:\n$warm")
    // same results either way (expected collected pre-registration)
    assert(cached.collect().toSeq == expected)
  }

  test("sampling queries stay map-side before aggregation (no joins at all)") {
    for (q <- Seq("p_train_test_split", "p_stratified_sample")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q plans a join; expected pure filter+agg")
    }
  }

  test("SQ8 encode is a pure projection — no exchange, no join in the encode frame") {
    // the map-only ingest claim (the rvqEncodeMapOnly sibling): once
    // the dim-row scale census is collected, encoding arrivals must
    // not shuffle — the property st_sq8_incr's zero-shuffle
    // micro-batch body rests on
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 3 === 0)
    val scales = graft.ann.Sq.sq8Scales(emb, "embedding")
    val p = graft.ann.Sq.sq8Encode(emb, "vec_id", "embedding", scales, 64)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"sq8Encode must stay map-only, got:\n$p")
  }

  test("sketched corpus-card census plans ONE keyed aggregation — no join, no window") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 4 === 1)
    val p = graft.ops.CorpusCard.sketchCensus(
      docs, "text", "source", "lang", 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Window"),
      s"sketchCensus must be one keyed aggregation, got:\n$p")
    // one hash-partition exchange (the source key), nothing else
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1,
      s"sketchCensus plans $exchanges exchanges, expected exactly 1:\n$p")
  }

  test("LSH plane weights never appear as plan literals (task-binary bloat pin)") {
    // the round-4 regression: 192 per-plane typedLit arrays, duplicated
    // by the optimizer into every operator on both self-join sides ->
    // 14 MiB task binaries. The fused expression keeps the matrix out
    // of the expression tree entirely; if any weight value prints in
    // the plan, literals are back.
    val w00 = graft.functions.LshBandKeys.planeWeight(0, 1) // 0.01349...
    for (q <- Seq("e_cos_neardup_lsh", "e_ann_lsh")) {
      val p = plan(q)
      assert(!p.contains(w00.toString.take(7)),
        s"$q embeds plane-weight literals in the plan again")
      assert(p.contains("lshbandkeys"),
        s"$q no longer uses the fused LshBandKeys expression")
    }
  }

  test("sequence packing plans one shard-partitioned window, no join, no global sort") {
    val p = plan("p_pack_sequences")
    assert(!p.contains("Join"), s"packing plans a join:\n$p")
    // the window must partition by shard — a missing partition spec
    // would plan a single-partition global window (the sequential
    // bottleneck the shard design exists to avoid)
    assert("Window .*shard".r.findFirstIn(p).isDefined ||
      p.contains("hashpartitioning(shard"),
      s"window is not shard-partitioned:\n$p")
  }

  test("vocab encode/oov resolve tokens through broadcast HASH joins, not scans") {
    // the r7 formulation probed a broadcast array/map per token — an
    // O(k)-per-probe linear scan (Catalyst MapData has no hash index);
    // the dimension-table form must plan BroadcastHashJoin and never
    // fall back to the nested-loop cross join it replaced
    for (q <- Seq("t_vocab_encode", "t_oov_rate")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q lost the broadcast hash join:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$q degenerated to a per-token scan join:\n$p")
    }
  }

  test("q4 EXISTS decorrelates to a semi join, never a per-row subquery") {
    val p = plan("q4_priority_exists")
    assert(p.contains("LeftSemi"), s"EXISTS did not plan as a semi join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q4 semi join degenerated to all-pairs:\n$p")
  }

  test("top-k queries plan distributed heaps, never a global sort") {
    // drift/heavy-hitters/q10 all end in a bounded top-k; the
    // TakeOrderedAndProject form merges per-partition heaps on the
    // driver instead of a single-reducer global sort
    for (q <- Seq("t_token_drift", "s_heavy_hitters", "q10_returned_items")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q lost the TakeOrderedAndProject top-k:\n$p")
    }
  }

  test("containment pairs join on shared grams, never all-pairs") {
    val p = plan("d_containment_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"containment plans an all-pairs join — the gram equi-key is gone:\n$p")
  }

  test("PQ encode broadcasts the codebook and keeps the argmin a hash aggregate") {
    // the m·k codebook must ride a BroadcastHashJoin onto the exploded
    // subvectors — a shuffle join here would shuffle the corpus m times;
    // e_pq_topk is excluded from the all-pairs guard (its per-query
    // distance-table crossJoin against the tiny broadcast IS the ADC
    // design, like e_ann_ivf's centroid join)
    val p = plan("e_pq_encode")
    assert(p.contains("BroadcastHashJoin"),
      s"PQ codebook join lost its broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"PQ encode degenerated to a cartesian:\n$p")
  }

  test("CMS probe join broadcasts the depth·width cell table") {
    val p = plan("s_cms_counts")
    assert(p.contains("BroadcastHashJoin"),
      s"CMS cells no longer broadcast to the probe side:\n$p")
  }

  test("global-scalar thresholds plan 1-row broadcasts, never re-aggregation or cartesians") {
    // q11/q22: the scalar (total, avg) rides a single-row
    // BroadcastNestedLoopJoin into the probe side. q15's equality
    // filter is even better: Catalyst extracts `total_revenue =
    // max_rev` as a hash key, so the scalar joins as a broadcast HASH
    // join (the BNLJ fallback also acceptable). A bare
    // "BroadcastExchange somewhere in the plan" would be vacuous —
    // the dimension joins broadcast regardless — so each query
    // asserts its scalar join NODE specifically.
    for (q <- Seq("q11_important_parts", "q22_idle_customers")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$q lost the 1-row scalar broadcast nested-loop:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q scalar broadcast degraded to a cartesian:\n$p")
    }
    val p15 = plan("q15_top_supplier")
    assert("BroadcastHashJoin .*Cross".r.findFirstIn(p15).isDefined ||
      p15.contains("BroadcastNestedLoopJoin"),
      s"q15 scalar equality no longer joins via broadcast:\n$p15")
    assert(!p15.contains("CartesianProduct"),
      s"q15 scalar broadcast degraded to a cartesian:\n$p15")
  }

  test("q17/q22 persist their shared slice — one scan feeds both consumers") {
    // the q11 discipline: without the persist, "computed once" is
    // only true of the logical plan and the corpus scans twice
    for (q <- Seq("q17_small_quantity", "q22_idle_customers")) {
      val p = plan(q)
      assert(p.contains("InMemoryTableScan"),
        s"$q shared slice is no longer persisted:\n$p")
    }
  }

  test("q11 reads the per-part census from cache — lineitem is scanned once") {
    // both consumers (the grand total and the per-part probe) must hit
    // the persisted census; a second bare lineitem FileScan means the
    // cache fell out and the corpus is read twice
    val p = plan("q11_important_parts")
    assert(p.contains("InMemoryTableScan"),
      s"q11 census is no longer persisted:\n$p")
    val bareScans = "FileScan parquet".r.findAllIn(p).size
    val cachedRelations = "InMemoryRelation".r.findAllIn(p).size
    assert(bareScans == cachedRelations,
      s"q11 re-scans lineitem outside the cache ($bareScans scans, " +
        s"$cachedRelations cached):\n$p")
  }

  test("q22 NOT EXISTS plans a broadcast LEFT ANTI join") {
    val p = plan("q22_idle_customers")
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS did not plan as an anti join:\n$p")
  }

  test("q19 OR-of-ANDs pushes per-side disjuncts to BOTH scans") {
    // Catalyst must extract the common equi-key AND infer per-side
    // OR-filters (brand/size on part, quantity ranges on lineitem) —
    // the pushdown that keeps the scan from reading every row
    val p = plan("q19_disjunctive_filter")
    assert("PushedFilters: \\[[^\\]]*Or\\(".r.findAllIn(p).size >= 2,
      s"per-side OR disjuncts are no longer pushed to both scans:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q19 lost its equi-key and plans all-pairs:\n$p")
  }

  test("q2 per-part argmin aggregates once with map-side combine — no correlated re-scan") {
    // struct-min plans as a SortAggregate (struct buffers aren't
    // hash-aggregable); what matters at scale is the PARTIAL phase —
    // each mapper ships one candidate per part, not every pair
    val p = plan("q2_min_cost_supplier")
    assert(p.contains("partial_min(struct"),
      s"q2 argmin lost its map-side partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q2 joins degenerated to all-pairs:\n$p")
  }

  test("q13 zero-order customers survive through a LEFT OUTER join") {
    val p = plan("q13_order_distribution")
    assert(p.contains("LeftOuter"),
      s"q13 lost the outer join — zero-order customers drop out:\n$p")
  }

  test("q18 grouped-HAVING top-n plans a distributed heap, not a global sort") {
    val p = plan("q18_large_orders")
    assert(p.contains("TakeOrderedAndProject"),
      s"q18 limit lost the TakeOrderedAndProject heap:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q18 joins degenerated to all-pairs:\n$p")
  }

  test("exact-k sampling plans the bounded-heap aggregate, never a window sort") {
    val p = plan("p_sample_exact_k")
    assert(!p.contains("Window"),
      s"sampleExactK fell back to the row_number window (full per-group sort):\n$p")
    assert(p.toLowerCase.contains("topk"),
      s"sampleExactK no longer aggregates through TopK:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"TopK must run as a (partial) object hash aggregate:\n$p")
  }

  test("quantized retrieval tails rank through the bounded-heap TopK aggregate, never a window sort") {
    // the scored frame feeding these paths puts the (probed) corpus
    // in every query's partition — a row_number window there is a
    // spill-prone corpus-sized sort per query. The tail must be the
    // TopK ObjectHashAggregate: O(k) state, map-side truncation.
    // r14: the float-cosine tails (lshTopK → e_ann_lsh,
    // ivfTopKHashCells → e_ann_ivf) joined the heap family — their
    // scored partitions are corpus FRACTIONS (bucket / nProbe-of-
    // nCells slices), which grow linearly with the corpus
    for (q <- Seq("e_hamming_topk", "e_pq_topk", "e_ivfpq_topk",
      "e_binary_rerank", "e_ann_lsh", "e_ann_ivf")) {
      val p = plan(q)
      // the codebook seed ranking keeps a bounded k-row global
      // window; the forbidden shape is a window PARTITIONED BY
      // query_id — that partition is the scored corpus
      assert(!p.contains("windowspecdefinition(query_id"),
        s"$q fell back to the row_number window (corpus-sized per-query sort):\n$p")
      assert(p.toLowerCase.contains("topk"),
        s"$q no longer ranks through the TopK aggregator:\n$p")
      assert(p.contains("ObjectHashAggregate"),
        s"$q TopK must run as a (partial) object hash aggregate:\n$p")
    }
  }

  test("quantile sketch: map-combined cell census, no window over data") {
    // the cell build must partial-aggregate map-side (every partition
    // collapses to <= ~2k cells before the shuffle) and never sort or
    // window the data; the only Window allowed anywhere in the family
    // is the cumulative walk over the CELL frame (answers/groups)
    val p = plan("s_quantile_sketch")
    assert(!p.contains("Window"),
      s"s_quantile_sketch windows the data:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"s_quantile_sketch lost its map-side partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"s_quantile_sketch plans a cartesian:\n$p")
  }

  test("bloom semi join: map-side prefilter, no all-pairs, exact join keyed") {
    val p = plan("o_bloom_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"o_bloom_join degenerated to all-pairs:\n$p")
    // the probe is a pure Filter over the scan (array-literal tests),
    // visible as might-contain arithmetic BEFORE any join
    assert(p.contains("Filter"),
      s"o_bloom_join lost its map-side bloom prefilter:\n$p")
    assert(p.contains("LeftSemi"),
      s"o_bloom_join exact verification join is gone:\n$p")
  }

  test("triangle count: oriented wedge joins stay equi-keyed") {
    val p = plan("s_graph_triangles")
    // the closing-edge probe must be the canonical-pair EQUI semi
    // join — an OR'd (u,w)/(w,u) probe has no hash key and planned a
    // nested-loop join over wedges × edges (caught by this pin). The
    // single permitted BroadcastNestedLoopJoin is the 1-row × 1-row
    // summary-assembly cross join at the very top.
    assert(!p.contains("CartesianProduct"),
      s"s_graph_triangles plans a cartesian:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"s_graph_triangles wedge/closing joins degenerated to all-pairs:\n$p")
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)[^\\n]*LeftSemi".r
      .findFirstIn(p).isDefined,
      s"s_graph_triangles closing-edge check is not an equi semi join:\n$p")
  }

  test("k-core peel: every round's degree census and node restriction stay equi-keyed") {
    val p = plan("s_kcore_domains")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"s_kcore_domains peel joins degenerated to all-pairs:\n$p")
    assert(p.contains("LeftSemi"),
      s"s_kcore_domains lost its node-restriction semi joins:\n$p")
  }

  test("per-vertex triangle census keeps the oriented equi-join shape") {
    // same skeleton as the global count, but no 1-row summary cross
    // join at the top — NO BroadcastNestedLoopJoin is permitted here
    val p = plan("s_triangle_domains")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"s_triangle_domains wedge/closing joins degenerated to all-pairs:\n$p")
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)[^\\n]*LeftSemi".r
      .findFirstIn(p).isDefined,
      s"s_triangle_domains closing-edge check is not an equi semi join:\n$p")
  }

  test("transition census: one user window, marginal joins broadcast") {
    val p = plan("ev_transitions")
    assert(p.contains("BroadcastHashJoin"),
      s"ev_transitions src-marginal join is no longer broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"ev_transitions degenerated to all-pairs:\n$p")
  }

  test("q7/q8/q9/q16/q20 join topologies broadcast their dims, no all-pairs") {
    for (q <- Seq("q7_nation_volume", "q8_market_share", "q9_product_profit",
      "q16_supplier_count", "q20_part_promotion")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q dimension joins lost their broadcasts:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to an all-pairs join:\n$p")
    }
  }

  test("q21 exists/not-exists plan as semi+anti joins with the supplier inequality as residual") {
    val p = plan("q21_waiting_suppliers")
    assert(p.contains("LeftSemi"),
      s"q21 EXISTS did not plan as a semi join:\n$p")
    assert(p.contains("LeftAnti"),
      s"q21 NOT EXISTS did not plan as an anti join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q21 quantifier joins degenerated to all-pairs:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q21 limit lost the TakeOrderedAndProject heap:\n$p")
  }

  test("temperature mixture plans one census aggregate, normalizer broadcast") {
    // the corpus is touched ONCE (map-side-combined census); the
    // 1-row normalizer rides a broadcast, and no join ever moves
    // document text
    val p = plan("p_mixture_temperature")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"normalizer total is no longer broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"temperature normalizer degraded to a cartesian:\n$p")
    assert("FileScan parquet".r.findAllIn(p).size <= 2,
      s"temperature plan re-scans the corpus:\n$p")
  }

  test("substr runs/apply meet on the anchor digest equi-join, never all-pairs") {
    // the ExactSubstr paths must join anchors on the 16-byte digest
    // key; losing the key would plan an all-pairs compare over every
    // anchor pair (quadratic in corpus bytes)
    for (q <- Seq("d_substr_runs", "d_substr_apply")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q lost its anchor equi-key:\n$p")
    }
  }

  test("scan+explode self-joins (anchors, grams) pin sort-merge — never a broadcast side") {
    // these self-joins are fed STRAIGHT from scan + explode (no
    // shuffle in between), so the planner sees the pre-explode scan
    // bytes — ~length(text)× under the real side — and would
    // auto-broadcast a corpus-scale side (found by the factor-30
    // ScaleTrend point: a 1.2 GiB driver collect; at 100 TB, an OOM).
    // Both sides are the same corpus-scale frame; the merge hint must
    // hold in the physical plan
    for (q <- Seq("d_substr_self", "d_substr_runs", "d_substr_apply",
      "d_ngram_jaccard", "d_containment_pairs", "e_cos_neardup_lsh",
      "e_semdedup")) {
      val p = plan(q)
      assert(p.contains("SortMergeJoin"),
        s"$q anchor/gram/bucket/cell self-join lost its sort-merge pin:\n$p")
    }
  }

  test("LM surprise: census joins keep their gram equi-keys, V rides a broadcast") {
    // the unigram/bigram censuses are corpus-sized — they must join on
    // the gram key (never forced broadcast; no hint in the analyzed
    // plan), while the 1-row vocabulary scalar broadcasts
    val p = plan("t_lm_surprise")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"V scalar no longer broadcasts:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"t_lm_surprise degraded to a cartesian:\n$p")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val analyzed = graft.text.Lm.surpriseScore(
      docs, "doc_id", "text", docs, "text")
      .queryExecution.analyzed.toString
    // exactly one hint: the V cross join — the census joins carry none
    assert("ResolvedHint".r.findAllIn(analyzed).size === 1,
      s"census joins gained/lost a broadcast hint:\n$analyzed")
  }

  test("BM25: query terms and corpus stats broadcast; tf census is the only corpus shuffle") {
    val p = plan("t_bm25_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"query-term table no longer broadcasts:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"t_bm25_topk degraded to a cartesian:\n$p")
    // the corpus parquet is scanned for tokens (tf lineage) and for
    // doc stats — but never more than those lineages
    assert("FileScan parquet".r.findAllIn(p).size <= 3,
      s"BM25 plan re-scans the corpus:\n$p")
  }

  test("HLL registers: one shuffle, partial max map-side, no distinct pass") {
    val p = plan("s_hll_registers")
    // one hash shuffle for the 256-bucket agg; the gate's ORDER BY
    // range exchange is presentation, not part of the register build
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"register build should hash-shuffle exactly once (256 buckets):\n$p")
    assert(p.contains("partial_max") || p.contains("partial"),
      s"per-bucket max lost its map-side partial aggregation:\n$p")
    // duplicate-blindness means NO dedup stage may ever appear — the
    // scale edge over KMV's distinct-first pipeline
    assert(!p.contains("HashAggregate(keys=[v"),
      s"a distinct pass crept into the HLL register build:\n$p")
  }

  test("KMV overlap: sketches plan distributed heaps; stats ride 1-row broadcasts") {
    val p = plan("s_kmv_overlap")
    assert(p.contains("TakeOrderedAndProject"),
      s"sketch build lost its TakeOrdered heap (full sort?):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"kmvOverlap plans a cartesian:\n$p")
  }

  test("hashed classifier: map-only feature path, doc-keyed agg is the only shuffle") {
    val p = plan("t_hashed_classifier")
    assert(!p.contains("Join"), s"classifier scoring must not join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"classifier should hash-shuffle once (the doc-keyed census):\n$p")
  }

  test("CDC chunking: cuts meet docs on a doc-id equi-join, never all-pairs") {
    for (q <- Seq("d_cdc_chunks", "d_cdc_dupes")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q lost its doc-id equi-key:\n$p")
    }
  }

  test("hybrid RRF: sparse side keeps its broadcasts; fusion adds no cartesian") {
    val p = plan("e_hybrid_rrf")
    assert(p.contains("BroadcastHashJoin"),
      s"BM25 query-term broadcast gone from the fused plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"e_hybrid_rrf plans a cartesian:\n$p")
  }

  test("WordPiece census segmentation: vocab rides a TakeOrdered, no corpus join") {
    val p = plan("t_wordpiece")
    assert(!p.contains("Join"),
      s"census segmentation must not join (vocab is broadcast state):\n$p")
  }

  test("negative sampling and triplets resolve through rank/anchor equi-joins") {
    for (q <- Seq("e_neg_sample", "e_triplets")) {
      val p = rawPlan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q plans a cartesian:\n$p")
    }
    // the rank join specifically must be an equi-join (hash or
    // sort-merge), never a nested loop over the corpus — for
    // e_neg_sample the ONLY join is the rank join
    assert(!rawPlan("e_neg_sample").contains("BroadcastNestedLoopJoin"),
      "negative-sample rank join degenerated to a nested loop")
  }

  test("augment and span-mask plans are map-only / single-window doc-keyed") {
    val aug = plan("mm_augment_plan")
    assert(!aug.contains("Join") &&
      !aug.contains("Exchange hashpartitioning"),
      s"augment plan must be map-only:\n$aug")
    val mask = plan("p_span_mask")
    assert(!mask.contains("Join"), s"span mask must not join:\n$mask")
    assert("Window".r.findAllIn(mask).size <= 3,
      s"span mask should stay within its doc-keyed windows:\n$mask")
  }

  test("link prediction wedges stay equi-keyed on the shared neighbor") {
    // the adjacency self-join must key on z (hub-capped fan-out);
    // losing the key would plan the all-pairs fallback
    val p = plan("s_link_predict")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"linkPredict plans an all-pairs join — the z equi-key is gone:\n$p")
  }

  test("the LSH capacity histogram never joins — censuses only") {
    // the whole point: price the pair join WITHOUT running any join
    val p = plan("d_lsh_histogram")
    assert(!p.contains("Join"),
      s"lshBucketHistogram must be a census chain, not a join:\n$p")
  }

  test("the image aHash pair search keeps the block-pair equi-key") {
    val p = plan("mm_ahash_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"aHash pairs plan an all-pairs join — the band equi-key is gone:\n$p")
  }

  test("changelog apply: the snapshot meets the delta in ONE anti join, equi-keyed") {
    val p = plan("o_changelog_apply")
    // exactly one LeftAnti (the untouched-rows filter) — the base
    // must never join the changelog a second time
    assert("LeftAnti".r.findAllIn(p).size == 1,
      s"changelog apply should anti-join the base exactly once:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"changelog winner/anti joins lost their equi-keys:\n$p")
  }

  test("curve skip contrasts are censuses — no join anywhere") {
    for (q <- Seq("s_hilbert_skip", "s_zorder_skip")) {
      val p = plan(q)
      assert(!p.contains("Join"),
        s"$q is zone censuses only; a join crept in:\n$p")
    }
  }

  test("encoding advisor: one scan, one Expand multi-distinct, no self-joins") {
    val p = plan("s_encoding_advisor")
    assert(!p.contains("Join"),
      s"advisor must stay a single-pass aggregate:\n$p")
    assert(p.contains("Expand"),
      s"multi-distinct should plan ONE Expand over ONE scan:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"advisor should scan the table exactly once:\n$p")
  }

  test("JL projection is map-only: no join, no hash exchange") {
    val p = plan("e_jl_project")
    assert(!p.contains("Join"),
      s"the sign matrix must ride as a literal, never a join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"projection must not shuffle (only the gate's orderBy sorts):\n$p")
  }

  test("erasure plan: the request batch broadcasts into a semi join") {
    val p = plan("s_erasure_plan")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"delete requests must broadcast (requests << data):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge here means the broadcast was lost:\n$p")
  }

  test("rank metrics: run-sized joins only, label census broadcast") {
    val p = plan("e_rank_metrics")
    assert(!p.contains("CartesianProduct"),
      s"metrics must join on equi-keys:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-label census must broadcast:\n$p")
  }

  test("bootstrap resampling: one scan into one keyed aggregate — no join, no window") {
    val p = plan("p_bootstrap_means")
    assert(!p.contains("Join"),
      s"the bootstrap is map-only by design — a join means the weight stopped being a pure function of (seed, b, key):\n$p")
    assert(!p.contains("Window"),
      s"no window belongs in the bootstrap:\n$p")
    // exactly one data shuffle: the B-group aggregate (the trailing
    // rangepartitioning exchange is the gate's orderBy)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 aggregate exchange, got $hashEx:\n$p")
  }

  test("pr curve scores the corpus once — totals come from the band-census window") {
    // the r15 self-review fix: total_pos via SUM OVER () on the band
    // census instead of a crossJoined aggregate that re-evaluated the
    // corpus-scoring pipeline. Pin RELATIVE to t_calibration (same
    // scoring pipeline, no sweep): the sweep must add ZERO extra
    // 1-row broadcast joins (both have only scoreTrained's unseen
    // fallback) and zero extra corpus explodes.
    def bnlj(p: String) = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    def explodes(p: String) = "Generate explode".r.findAllIn(p).size
    val pr = rawPlan("t_pr_curve")
    val cal = rawPlan("t_calibration")
    assert(bnlj(pr) == bnlj(cal),
      s"t_pr_curve plans ${bnlj(pr)} BNLJ vs t_calibration's ${bnlj(cal)} — the totals crossJoin is back")
    assert(explodes(pr) == explodes(cal),
      s"t_pr_curve plans ${explodes(pr)} explodes vs t_calibration's ${explodes(cal)} — the corpus is scored twice")
  }

  test("softDedupWeights: only the two 1-row scalars broadcast — the self-census joins stay strategy-free") {
    // the censuses are corpus-sized at production scale (the
    // surpriseScore contract); the only forced broadcasts are the
    // vocabulary-size scalar inside the scorer (counted TWICE in the
    // analyzed tree — the mean-rarity branch re-embeds the scorer
    // lineage) and the mean-rarity scalar the weights normalize by
    val analyzed = graft.text.Lm.softDedupWeights(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
      .queryExecution.analyzed.toString
    assert("ResolvedHint".r.findAllIn(analyzed).size == 3,
      s"softDedupWeights hint count changed — a census join gained " +
        s"(or a scalar lost) a broadcast hint:\n$analyzed")
  }

  test("softDedupWeights persistInput: every lineage reads a cache, values unchanged") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 10 === 0)
    // default: the five lineages (two censuses, vocab, doc grams, the
    // re-embedded mean branch) each re-scan the source. Collect the
    // expected values BEFORE registering any cache (the TfIdf
    // cache-to-cache lesson at tfidf persistInput above).
    val uncached = graft.text.Lm.softDedupWeights(docs, "doc_id", "text")
    val cold = uncached.queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(cold).size >= 4,
      s"expected multiple source scans in the default plan:\n$cold")
    val expected = uncached.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val cached = graft.text.Lm.softDedupWeights(docs, "doc_id", "text",
      persistInput = true)
    val warm = cached.queryExecution.executedPlan.toString
    assert(warm.contains("InMemoryTableScan"),
      s"persistInput plans no cache read:\n$warm")
    val got = cached.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got === expected, "persistInput changed values")
    cached.unpersist()
    spark.catalog.clearCache()
  }

  test("gopherRepetition: no forced broadcast, no window — the argmax is a struct-min aggregate") {
    val df = graft.text.Repetition.gopherRepetition(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
    val analyzed = df.queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      s"gopherRepetition gained a broadcast hint:\n$analyzed")
    val p = df.queryExecution.executedPlan.toString
    // the top-gram argmax must stay a map-side-combinable aggregate;
    // a per-doc row_number window here would be a corpus-wide sort
    assert(!p.contains("Window"),
      s"gopherRepetition plans a window — the struct-min argmax is gone:\n$p")
  }

  test("rvqEncodeSeedDrawn: exactly the three codebook broadcasts, nothing else hinted") {
    // one hint per assignStage pass (cb1 for the stage-2 sample, cb1
    // and cb2 for the corpus encode) — the corpus side must never
    // gain one (a bound broadcast of the corpus is a driver OOM at
    // the scale the operator targets)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val analyzed = graft.ann.Rvq.rvqEncodeSeedDrawn(
      emb, emb, "vec_id", "embedding", k = 8)
      .queryExecution.analyzed.toString
    assert("ResolvedHint".r.findAllIn(analyzed).size == 3,
      s"rvqEncodeSeedDrawn hint count changed:\n$analyzed")
  }

  test("rvqTopK: ten broadcasts (codebook lineages re-embedded per consumer), corpus never hinted") {
    // every hint wraps a k-row codebook (or 1-row/array-row derived)
    // side: the encode subtree carries 3 (cb1 at stage 1, cb2 at
    // stage 2, cb2's inner cb1 assignment), the query-table subtree
    // 4 (its own hint + t1's cb1 + t2's cb2 + cb2's inner cb1), the
    // cross-term subtree 3 (its own hint + the k×k pairing's cb2
    // hint — required since the refined twin's localCheckpointed
    // codebooks carry no size stats, the CartesianProduct guard's
    // catch — + cb2's inner cb1) — 10 total because the analyzed
    // tree re-embeds cb2's lineage per consumer. The corpus codes
    // side must stay hint-free.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val analyzed = graft.ann.Rvq.rvqTopK(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") % 40 === 1),
      emb, "vec_id", "embedding", n = 5, k = 8)
      .queryExecution.analyzed.toString
    assert("ResolvedHint".r.findAllIn(analyzed).size == 10,
      s"rvqTopK hint count changed:\n$analyzed")
  }

  test("ivfRvqTopK: no CartesianProduct on data; cents/ADC tables broadcast, the code table never hinted") {
    // the composed index must keep the rvqTopK discipline with the
    // coarse stage added: the executed plan's only nested-loop joins
    // are against 1-row/bounded broadcast sides (cents, the ADC
    // tables, xterm) — a CartesianProduct (the localCheckpointed-
    // codebook regression this family's hints exist for) or a
    // broadcast of the corpus-code side would be the scale killer
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val (cb1, cb2) = graft.ann.Rvq.rvqCodebooksRefined(
      emb, "vec_id", "embedding", k = 8, iters = 1, maxTrainRows = 60)
    val plan = graft.ann.Rvq.ivfRvqTopK(
      emb.filter(col("vec_id") % 40 === 1), emb,
      "vec_id", "embedding", 5, cb1, cb2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"composed IVF-RVQ degraded to a cartesian product:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"composed IVF-RVQ lost its bounded-side broadcasts:\n$plan")
  }

  test("c4Clean and the WARC parse are map-only: no exchange, no window") {
    val c4 = graft.text.C4.c4Clean(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!c4.contains("Exchange") && !c4.contains("Window"),
      s"c4Clean gained a shuffle:\n$c4")
    val dir = java.nio.file.Files.createTempDirectory("warc_guard_")
    graft.sources.Warc.writeWarc(
      spark.read.parquet(s"$sf/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("doc_id") < 200),
      "doc_id", "text", s"$dir/w")
    val warc = graft.sources.Warc.readWarc(spark, s"$dir/w")
      .queryExecution.executedPlan.toString
    assert(!warc.contains("Exchange") && !warc.contains("Window"),
      s"WARC parse gained a shuffle:\n$warc")
    graft.ops.Fs.deleteRecursively(dir)
  }

  test("corpusCard: no forced broadcast, no window — source-keyed hash aggregates only") {
    val card = graft.ops.CorpusCard.corpusCard(
      spark.read.parquet(s"$sf/documents.parquet"), "text", "source", "lang")
    assert(!card.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "corpusCard gained a broadcast hint")
    val p = card.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"corpusCard plans a window:\n$p")
  }

  test("no gated query plans a non-broadcast CartesianProduct") {
    // the one global scale invariant: a CartesianProduct node (the
    // physical fallback when neither side can broadcast and there is
    // no equi-key) is unbounded compare volume — nothing in the
    // registry is allowed to plan one, at any size estimate. 1-row
    // scalar broadcasts (BroadcastNestedLoopJoin) are fine and
    // asserted per-query above; this guard is only about the
    // shuffle-shuffle cartesian. cosineNearDupPairs' all-pairs demo
    // path is row-count-guarded (raise_error above maxRows) AND must
    // still never plan the non-broadcast form at gate scale.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      if (plan(q).contains("CartesianProduct")) Some(q) else None
    }
    assert(offenders.isEmpty,
      s"gated queries planning CartesianProduct: ${offenders.mkString(", ")}")
  }
}
