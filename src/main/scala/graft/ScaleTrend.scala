package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-trend audit: the 100× claim, tested instead of
  * argued. Synthesizes a `factor`× blow-up of the input SF (id-shifted
  * copies with per-copy word prefixes — see below) and measures
  * t(factor×)/t(1×) for one representative per quadratic-hazard
  * family from SCALE.md:
  *
  *   - `d_minhash_lsh`  — banded-signature pair join (hot-bucket guard)
  *   - `d_substr_self`  — anchor-digest self-join (maxGramDocs guard)
  *   - nnDescentGraph   — the graph-ANN build (O(n·k²)/round local
  *     join; the `e_ann_nndescent` GATE also runs its exact all-pairs
  *     verifier arm, quadratic BY CONTRACT, so the audit times the
  *     scale arm it exists to verify)
  *   - `d_dedup_clusters` — pair finder → connected components
  *   - stream_band_join   — the stream door's store join
  *     ([[graft.dedup.Dedup.bandJoinAgainstStore]], the EXACT body
  *     `minhashIncrStream` runs per micro-batch) over a
  *     batch-equivalent arrival slice — the candidate-volume hazard
  *     if the store's bucket skew regressed
  *   - lloyd_ivf_topk     — trained-IVF retrieval
  *     ([[graft.ann.Ann.lloydIvfTopK]]): the probes × assigned-cells
  *     join is the quadratic hazard if the probe slice stops pruning
  *   - semdedup_store_join — the incremental-SemDeDup stream door's
  *     store join ([[graft.ann.Ann.semDedupPairsAgainstStore]], the
  *     EXACT body `semDedupIncrStream` runs per micro-batch) at the
  *     production guard dial, nCells following the corpus at constant
  *     target cell size (see the family comment for why cells derive
  *     from a hash, not a per-timing re-train)
  *   - softdedup_weights — the LM-census topology (gram/prefix census
  *     equi-joins + 1-row normalizer) at the production persistInput
  *     dial; a linearity point, not a pair-source hazard — the census
  *     join is a per-occurrence lookup at any factor
  *
  * NOT a family: the char-gram pair sources (`ngramJaccardPairs` /
  * `ngramContainmentPairs`). The synthesizer's decorrelation is
  * WORD-level (per-copy prefixes); char 3-grams live in a ~50k-value
  * space and collide across copies, so their per-gram document
  * frequency grows with the blow-up and pair volume grows
  * data-induced-quadratically — exactly the regime the audit
  * excludes by construction. That growth is also the operator's real
  * production story: the `n` dial must rise with corpus size (the
  * SemDeDup-nCells argument; the substr anchors run k = 12+ for the
  * same reason), and the r17 sort-merge plan pin (PlanGuardSpec)
  * guards the plan-shape hazard that actually regresses silently.
  *
  * Blow-up construction: copy `i` shifts ids by a multiple of every
  * residue modulus the gates slice on (so each copy contributes the
  * same slice shape) and prefixes every word with `c<i>` (so shingles,
  * anchors, and simhash blocks NEVER collide across copies). Per-copy
  * duplicate structure — cluster sizes, bucket-size skew — is
  * preserved exactly; only the corpus count scales. That is the regime
  * where a real quadratic hazard (a pair source that isn't bucketed,
  * a guard that regressed) shows up as a super-linear time ratio,
  * while data-induced quadratics (10 exact copies of every doc WOULD
  * multiply true pairs by 100) are excluded by construction.
  * Embedding copies perturb one component by `i·1e-4` so cross-copy
  * vectors are never byte-identical ties.
  *
  * Pass rule: ratio ≤ maxRatio (default 15 ≈ factor × shared-box
  * noise headroom) per family; exit 1 on any breach. Ratios land in
  * SCALE.md per round.
  *
  * Usage: `runMain graft.ScaleTrend [sfDir] [factor] [maxRatio]
  * [families]` — `families` a comma-separated subset (default all),
  * for deep single-family points (e.g. `d_substr_self` at factor 30)
  * without paying the full sweep at that factor.
  */
object ScaleTrend {

  // lcm(2,3,4,5,7,8,10,20,40,100) = 4200: every doc_id/vec_id residue
  // filter in the four representatives (and their helpers) survives
  // the shift, so each copy contributes an identical slice
  private val ResidueLcm = 4200L

  /** The sign-decorrelated blow-up table for the sign-LSH families
    * (falls back to the plain table at factor 1, where the two are
    * identical — copy 0 is untouched in both).
    */
  private def lshEmb(s: SparkSession, dir: String): DataFrame = {
    val p = java.nio.file.Paths.get(dir, "embeddings_lsh.parquet")
    if (!Files.exists(p)) {
      // the plain table is only equivalent at factor 1 (copy 0 is
      // untouched in both); a blow-up dir synthesized by a pre-r20
      // build lacks the decorrelated table and would silently
      // reintroduce the cross-copy sign-collision regime the _lsh
      // table exists to exclude, skewing the breach verdicts
      System.err.println(s"[scaletrend] WARNING: $p missing - falling " +
        "back to the CORRELATED plain embeddings table; only valid at " +
        "factor 1. Re-synthesize the blow-up dir with this build.")
    }
    s.read.parquet(
      if (Files.exists(p)) p.toString else s"$dir/embeddings.parquet")
  }

  /** Dial counts memoized per (dir, slice) key: the corpus-following
    * dials (LSH planes) need a `count()` of their slice, and the
    * first (warmup, untimed) call per dir pays that job — the TIMED
    * passes then reuse the value instead of running a count job
    * inside the measured closure (which inflated the measured family
    * time by a fixed scan per pass).
    */
  private val dialCounts =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def dialCount(key: String, df: => DataFrame): Long =
    dialCounts.getOrElseUpdate(key, df.count())

  /** The production LSH width rule: planes follow the corpus at
    * constant expected bucket occupancy (`ceil(log2 n) + 3` — the
    * sf0.1 gate slice of ~500 rows lands exactly on the gates' 12
    * planes; each doubling of the corpus adds one plane, keeping
    * expected candidates per query constant). The [[graft.ann.Ann
    * .lshBandKeys]] scaladoc's structural-defence argument (bucket
    * width is what bounds the chance-collision fraction of n²) made
    * into the dial rule every other corpus-following family here
    * (nnd groups, SemDeDup nCells) already carries.
    */
  private def lshPlanes(n: Long): Int =
    math.max(12, (math.log(math.max(n, 2L).toDouble) / math.log(2.0))
      .ceil.toInt + 3)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val maxRatio = if (args.length > 2) args(2).toDouble else 15.0
    val spark = GraftSession.build()

    val root = Files.createTempDirectory("graft_scaletrend_")
    val blowDir = root.toString
    var failed = false
    try {
      synthesize(spark, sfDir, blowDir, factor)

      val allFamilies: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
        "d_minhash_lsh" -> SparkEntry.queries("d_minhash_lsh"),
        "d_substr_self" -> SparkEntry.queries("d_substr_self"),
        "nndescent_build" -> ((s: SparkSession, dir: String) => {
          // groups follows the corpus at CONSTANT group size (~31 =
          // the sf0.1 base slice 500/16) — the production rule the
          // operator scaladoc documents: init is a within-group
          // clique, so a FIXED groups dial is initSeeds·n²/groups, a
          // deliberate data-quadratic the audit excludes by
          // construction (caught by the r18 factor-30 point: 15.5 at
          // 30× under the fixed dial, linear once groups scales)
          val emb = s.read.parquet(s"$dir/embeddings.parquet")
            .filter(col("vec_id") % 4 === 0)
          val groups = math.max(16, (emb.count() / 31L).toInt)
          graft.ann.Nsw.nnDescentGraph(
            emb, "vec_id", "embedding", k = 5, rounds = 2,
            groups = groups)
        }),
        "d_dedup_clusters" -> SparkEntry.queries("d_dedup_clusters"),
        "stream_band_join" -> ((s: SparkSession, dir: String) => {
          // the stream door's per-micro-batch body over a
          // batch-equivalent arrival slice (st_minhash_incr's %40
          // residue), at the PRODUCTION guard dial — the gate runs
          // unguarded by oracle contract, the audit runs what a
          // deployment would
          import graft.dedup.Dedup
          val docs = s.read.parquet(s"$dir/documents.parquet")
          val store = Dedup.bandedSignatures(Dedup.minhashSignatures(
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 16), 16, 4)
          val arrivals = Dedup.bandedSignatures(Dedup.minhashSignatures(
            docs.filter(col("doc_id") % 40 === 7), "doc_id", "text", 16), 16, 4)
          Dedup.bandJoinAgainstStore(arrivals, store, numHashes = 16)
        }),
        "lloyd_ivf_topk" -> ((s: SparkSession, dir: String) => {
          val emb = s.read.parquet(s"$dir/embeddings.parquet")
          graft.ann.Ann.lloydIvfTopK(
            emb.filter(col("vec_id") % 40 === 1), emb,
            "vec_id", "embedding", k = 5)
        }),
        "semdedup_store_join" -> ((s: SparkSession, dir: String) => {
          // the SEMANTIC twin of stream_band_join (r17 verdict #2):
          // the incremental-SemDeDup stream door's per-micro-batch
          // body (Ann.semDedupPairsAgainstStore — store census, hot
          // blocklist, both-side anti-joins, cell equi-join, cosine
          // filter) over a batch-equivalent arrival slice at the
          // PRODUCTION guard dial (maxCellSize = 4x the target cell
          // size). Two deliberate constructions, reasoned in SCALE.md:
          // (1) nCells follows the corpus at a CONSTANT target cell
          // size (n/125 — the production rule; SemDeDup runs ~100k
          // clusters at web scale, and SCALE.md already records that
          // a FIXED nCells under a blow-up is a deliberate
          // data-quadratic the audit excludes by construction);
          // (2) cells derive from a map-side HASH of quantized
          // components, not a per-timing Lloyd re-train — production
          // joins a PERSISTED assigned store (train is amortized,
          // never per-drop), and a flat-quantizer assignment is
          // O(n * nCells), a term that would dominate the timing and
          // mask the join this family exists to audit. The join body
          // is byte-identical to what the stream door runs.
          import graft.ann.Ann
          val emb = s.read.parquet(s"$dir/embeddings.parquet")
          val n = emb.count()
          val nCells = math.max(4L, n / 125L)
          def assigned(df: org.apache.spark.sql.DataFrame) =
            df.select(col("vec_id").cast("long").as("id"),
              expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
              .withColumn("cell", pmod(xxhash64(
                expr("transform(slice(v, 1, 8), x -> CAST(floor(x * 50.0) AS LONG))")),
                lit(nCells)).cast("long"))
          val store = assigned(emb.filter(col("vec_id") % 2 === 0))
          val arrivals = assigned(emb.filter(col("vec_id") % 40 === 3))
          Ann.semDedupPairsAgainstStore(arrivals, store, threshold = 0.5,
            maxCellSize = 500)
        }),
        "rvq_encode" -> ((s: SparkSession, dir: String) => {
          // the RVQ ingest path at the production dial
          // (persistCodebooks = true — each seed draw scans the
          // corpus ONCE; the audit would otherwise time the
          // documented lineage re-execution, not the operator):
          // two k-row broadcast codebooks, one struct-min argmin
          // pass per stage — expected linear
          val emb = s.read.parquet(s"$dir/embeddings.parquet")
            .filter(col("vec_id") % 3 === 1)
          graft.ann.Rvq.rvqEncodeSeedDrawn(emb, emb, "vec_id", "embedding",
            k = 16, persistCodebooks = true)
        }),
        "rvq_topk" -> ((s: SparkSession, dir: String) => {
          // RVQ ADC retrieval at the gate's bounded-query dial (%300
          // residue — queries grow linearly with the blow-up but stay
          // driver-broadcastable by the family contract): encode +
          // three broadcast lookup tables; the k² cross-term is
          // corpus-independent — the quadratic hazard would be the
          // codes × queries score join outgrowing its broadcast
          val emb = s.read.parquet(s"$dir/embeddings.parquet")
            .filter(col("vec_id") % 3 === 1)
          graft.ann.Rvq.rvqTopK(emb.filter(col("vec_id") % 300 === 1), emb,
            "vec_id", "embedding", 5, persistCodebooks = true)
        }),
        "hnsw_search" -> ((s: SparkSession, dir: String) => {
          // the two-layer HNSW composition with BOTH layer graphs
          // built by NN-descent under the groups-follows-the-corpus
          // rule (groups ≈ n/31, the r18 fixed-dial lesson — computed
          // per LAYER, since the upper layer is 16× smaller): one
          // extra build at ~1/256 the base pair volume plus the
          // upper descent; expected ~linear like the flat beam
          val emb = s.read.parquet(s"$dir/embeddings.parquet")
          val corpus = emb.filter(col("vec_id") % 4 === 0)
          def graphOf(layer: org.apache.spark.sql.DataFrame) = {
            val groups = math.max(4, (layer.count() / 31L).toInt)
            graft.ann.Nsw.nnDescentGraph(layer, "vec_id", "embedding",
              k = 5, rounds = 2, groups = groups)
          }
          graft.ann.Nsw.hnswSearch(corpus,
            emb.filter(col("vec_id") % 40 === 1), "vec_id", "embedding",
            graphOf, beam = 6, rounds = 3, k = 5)
        }),
        "sketch_card" -> ((s: SparkSession, dir: String) => {
          // the bounded-state corpus card: one map-side signal
          // projection into ONE source-keyed aggregation whose state
          // is four counters + a k-entry KMV sketch per source —
          // linear by construction; the hazard would be the O(k)
          // sketch insert degrading under per-source row growth
          val docs = s.read.parquet(s"$dir/documents.parquet")
          graft.ops.CorpusCard.cardFromSketchCensus(
            graft.ops.CorpusCard.sketchCensus(
              docs, "text", "source", "lang", 64), 64)
        }),
        "sq8_encode" -> ((s: SparkSession, dir: String) => {
          // scalar-quantizer ingest: dim-keyed max census + map-only
          // code/error projection — the zero-shuffle encode claim
          // under the blow-up
          val emb = s.read.parquet(s"$dir/embeddings.parquet")
            .filter(col("vec_id") % 3 === 0)
          val scales = graft.ann.Sq.sq8Scales(emb, "embedding")
          graft.ann.Sq.sq8Encode(emb, "vec_id", "embedding", scales, 64)
        }),
        "mrl_lsh_topk" -> ((s: SparkSession, dir: String) => {
          // the Matryoshka LSH funnel (coarse prefix-LSH pass →
          // bounded full-width rerank) over the SIGN-DECORRELATED
          // blow-up (see [[synthesize]] — cross-copy bucket
          // collisions are the embedding analogue of char-gram
          // collisions, excluded by construction), at the
          // production dial: planes FOLLOW the corpus at constant
          // expected bucket occupancy (ceil(log2 n) + 3 — n=500 →
          // the gate's 12; the lshBandKeys scaladoc's structural
          // defence made quantitative), the r18 fixed-dial rule
          // applied to the LSH width
          import graft.ann.Matryoshka
          val emb = lshEmb(s, dir)
          val corpus = emb.filter(col("vec_id") % 4 === 2)
          val planes = lshPlanes(dialCount(s"$dir#mrl", corpus))
          Matryoshka.mrlLshTopK(emb.filter(col("vec_id") % 40 === 2),
            corpus, "vec_id", "embedding",
            n = 5, coarseDim = 16, coarseN = 20, planes = planes,
            multiProbe = 2)
        }),
        "margin_mine_lsh" -> ((s: SparkSession, dir: String) => {
          // margin-based bitext mining over two directional
          // multi-probe LSH runs — the round's other new pair-source
          // composition: BOTH sides grow with the corpus (mining is
          // corpus × corpus through the index), so the planes dial
          // following the TOTAL side size is what keeps per-bucket
          // occupancy — and with it the two runs' candidate volumes —
          // linear; same sign-decorrelated table as mrl_lsh_topk
          import graft.ann.Mining
          val emb = lshEmb(s, dir)
          val src = emb.filter(col("vec_id") % 4 === 1)
          // deliberately dialed on the quarter-slice, not src+tgt:
          // log2 of a fixed fraction differs from log2 of the total
          // by a constant (2 planes here), so the corpus-following
          // property — one plane per doubling — is identical either
          // way and the gate-slice alignment keeps 12 planes at sf0.1
          val planes = lshPlanes(dialCount(s"$dir#margin", src))
          Mining.marginMineLsh(src, emb.filter(col("vec_id") % 4 === 3),
            "vec_id", "embedding", k = 4, threshold = 1.0,
            planes = planes, dim = 64, multiProbe = 2)
        }),
        "softdedup_weights" -> ((s: SparkSession, dir: String) => {
          // the LM-census topology's audit point (the same census
          // equi-join shape backs t_lm_surprise, p_ppl_buckets,
          // p_dsir_select, p_softdedup): corpus-sized gram/prefix
          // censuses joined back onto the doc grams + the 1-row
          // normalizer broadcast. Census keys are WORD grams, so the
          // blow-up's per-copy prefixes keep per-gram counts constant
          // — census rows grow linearly and the lookup join emits one
          // row per doc-gram occurrence at any factor (never a pair
          // source). Production dial: persistInput = true (one
          // materialization of the token arrays and the rarity frame
          // across the operator's five lineages)
          graft.text.Lm.softDedupWeights(
            s.read.parquet(s"$dir/documents.parquet")
              .filter(col("doc_id") % 3 === 1),
            "doc_id", "text", persistInput = true)
        }))
      val wanted = if (args.length > 3) args(3).split(',').toSet else Set.empty[String]
      val unknown = wanted -- allFamilies.map(_._1).toSet
      require(unknown.isEmpty, s"unknown families: ${unknown.mkString(", ")}")
      val families =
        if (wanted.isEmpty) allFamilies
        else allFamilies.filter(f => wanted(f._1))

      def time(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
        // cache-cold per timing (the Bench per-pass rule): several
        // representatives persist internally (anchor/signature
        // frames, session-lifetime), and a LATER family timing under
        // an EARLIER family's leftover blocks measures memory
        // pressure, not the operator — observed as a 9.5 → 14.1
        // ratio swing on the char-gram family between solo and
        // in-sweep runs before this clear. clearCache() only drops
        // CacheManager entries; localCheckpoint blocks (NN-descent's
        // per-round cuts) are plain RDD persists and need the
        // persistent-RDD sweep
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }

      val rows = families.map { case (name, fn) =>
        time(fn, sfDir) // warmup (codegen, footers)
        val t1 = Seq.fill(2)(time(fn, sfDir)).min
        time(fn, blowDir)
        val tN = Seq.fill(2)(time(fn, blowDir)).min
        val ratio = tN / math.max(t1, 0.01)
        (name, t1, tN, ratio)
      }

      val qs = rows.map { case (n, t1, tN, r) =>
        f""""$n":{"t1":$t1%.3f,"tN":$tN%.3f,"ratio":$r%.2f}"""
      }.mkString("{", ",", "}")
      val breaches = rows.collect { case (n, _, _, r) if r > maxRatio => n }
      println(s"""{"metric":"scale_trend","factor":$factor,"maxRatio":$maxRatio,"families":$qs,"breaches":${breaches.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir"}""")
      if (breaches.nonEmpty) {
        System.err.println(s"[scaletrend] SUPER-LINEAR families: ${breaches.mkString(", ")}")
        failed = true
      }
    } finally {
      // sys.exit inside the try would bypass this cleanup and leak
      // the 10x blow-up parquet on every failing (re-)run
      graft.ops.Fs.deleteRecursively(root)
    }
    spark.stop()
    if (failed) sys.exit(1)
  }

  /** Writes `factor`-times blow-ups of `documents` and `embeddings`
    * into `blowDir` (the two tables the representatives read).
    */
  private[graft] def synthesize(
      spark: SparkSession, sfDir: String, blowDir: String, factor: Int): Unit = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val maxDoc = docs.agg(max(col("doc_id"))).head.getLong(0)
    val docShift = ((maxDoc / ResidueLcm) + 1L) * ResidueLcm
    val bigDocs = (0 until factor).map { i =>
      // the 'x' delimiter keeps prefixes unambiguous at ANY factor:
      // without it copy 1's token "1abc" and copy 11's "abc" would
      // both render "c11abc" (and copy-0 naturals starting "c<digit>"
      // could collide with prefixed copies)
      val text =
        if (i == 0) col("text")
        else concat_ws(" ",
          transform(split(col("text"), "\\s+"), w => concat(lit(s"c${i}x"), w)))
      docs.select((col("doc_id") + lit(i * docShift)).as("doc_id"),
        text.as("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    bigDocs.write.mode("overwrite").parquet(s"$blowDir/documents.parquet")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val maxVec = emb.agg(max(col("vec_id"))).head.getLong(0)
    val vecShift = ((maxVec / ResidueLcm) + 1L) * ResidueLcm
    val bigEmb = (0 until factor).map { i =>
      val vec =
        if (i == 0) col("embedding")
        else transform(col("embedding"), (x, j) =>
          when(j === 0, x + lit((i * 1e-4).toFloat)).otherwise(x))
      emb.select((col("vec_id") + lit(i * vecShift)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
    bigEmb.write.mode("overwrite").parquet(s"$blowDir/embeddings.parquet")

    // the sign-LSH families' table: copy i's vectors additionally
    // pass through a per-copy ORTHOGONAL sign flip (component j
    // negated iff xxhash64(i, j) is even; copy 0 untouched). Norms,
    // intra-copy cosines, cluster structure, and per-copy bucket
    // skew are preserved EXACTLY; only cross-copy sign-LSH bucket
    // collisions are removed — near-identical copies share every
    // hyperplane sign, so on the plain blow-up each bucket's
    // occupancy would grow with the factor and the candidate volume
    // data-induced-quadratically: the embedding analogue of the
    // char-gram collision regime the audit excludes by construction
    // (word prefixes are the doc-side version of this transform).
    val bigEmbLsh = (0 until factor).map { i =>
      val base =
        if (i == 0) col("embedding")
        else transform(col("embedding"), (x, j) =>
          when(j === 0, x + lit((i * 1e-4).toFloat)).otherwise(x))
      val vec =
        if (i == 0) base
        else transform(base, (x, j) =>
          when(pmod(xxhash64(lit(i), j), lit(2)) === 0, -x).otherwise(x))
      emb.select((col("vec_id") + lit(i * vecShift)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
    bigEmbLsh.write.mode("overwrite").parquet(s"$blowDir/embeddings_lsh.parquet")
  }

}
