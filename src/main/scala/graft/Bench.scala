package graft

/** Benchmark main: runs every registered query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line with per-query
  * seconds. A full untimed warmup pass first absorbs one-time session
  * costs (codegen compilation, parquet footer reads, JIT) so the
  * timed pass measures steady-state query execution — the regime that
  * matters at scale, where plans run for minutes, not milliseconds.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()

    // local-iteration knobs (the driver sets neither): ONLY filters to
    // comma-separated name prefixes, PASSES trims the timed passes —
    // profiling one family doesn't need the full 3-pass protocol
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').toSeq.filter(_.nonEmpty))
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    require(nPasses >= 1, s"SPARK_GRAFT_BENCH_PASSES $nPasses must be >= 1")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    // parallelism observability (additions-only; the JSON line is
    // byte-compatible): a listener counts tasks and the peak number
    // of simultaneously running tasks per timed query, reported on
    // STDERR after the passes. This is the scaling signal the
    // cpus=8-vs-32 comparison needs — a query whose peak width never
    // reaches the core count is overhead-bound at this SF and its
    // flat 8/32 ratio says nothing about the operator.
    val taskCounts =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Int)]()
    @volatile var currentQuery: String = null
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskStart(
            t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit = {
          val q = currentQuery
          if (q != null) {
            val now = running.incrementAndGet()
            taskCounts.merge(q, (1L, now),
              (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
          } else running.incrementAndGet()
        }
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          running.decrementAndGet(); ()
        }
      })
    System.err.println(s"[bench] cores=${spark.sparkContext.defaultParallelism} " +
      s"shufflePartitions=${spark.conf.get("spark.sql.shuffle.partitions")}")
    // warmup: one untimed pass
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => }
    }
    // three timed passes, min per query: steady-state cost with
    // protection against one-off scheduler/GC noise on a shared box
    // (single-run totals swing +-25% here; min-of-3 keeps a real
    // regression visible without letting noise mimic one). Each pass
    // starts cache-cold: operators that persist internally (cosine
    // near-dup LSH) would otherwise serve timed passes from the
    // warmup's materialization and report cached-read times that
    // aren't comparable with earlier rounds or a fresh session.
    def timedPass(): Map[String, Double] = {
      spark.catalog.clearCache()
      names.map { name =>
        currentQuery = name
        val t0 = System.nanoTime()
        val ok =
          try { SparkEntry.queries(name)(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        currentQuery = null
        // failed queries must be visible in the output, not blend in
        // as a normal-looking elapsed time
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }.toMap
    }
    val passes = Seq.fill(nPasses)(timedPass())
    // per-query task census over all timed passes (stderr, never the
    // JSON line): total tasks and the peak concurrent width
    names.foreach { n =>
      Option(taskCounts.get(n)).foreach { case (total, peak) =>
        System.err.println(s"[bench-tasks] $n tasks=$total peakWidth=$peak")
      }
    }
    val results = names.map { n =>
      val ts = passes.map(_(n))
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    // bench-only extras: operators with no DuckDB oracle whose cost
    // should stay visible as they evolve. Timed min-of-2 after their
    // own warmup; excluded from the total so the headline stays
    // comparable with earlier rounds. The list is down to ONE entry,
    // and it is PERMANENTLY ungateable: MLlib k-means reduces floats
    // in partition order, so its centroids are engine- and
    // run-specific by construction — no DuckDB rendering can match
    // them. Its deterministic counterpart IS hash-gated as
    // e_ann_ivf_lloyd (md5 init + id-ordered sequential-fold means);
    // this extra remains only to track the MLlib path's cost.
    def timeKmeansIvf(): Double = {
      import org.apache.spark.sql.functions.col
      val t0 = System.nanoTime()
      try {
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        graft.ann.Ann.ivfTopK(emb.filter(col("vec_id") < 3), emb,
          "vec_id", "embedding", k = 5).count()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        // the -1 sentinel must come with a cause on stderr — a silent
        // -1 is undiagnosable from the JSON line alone
        System.err.println(s"[bench] e_ann_ivf_kmeans failed: $e")
        e.printStackTrace()
        -1.0
      }
    }
    // the ONLY filter applies to extras too — profiling one family
    // must not pay 3 MLlib k-means fits of fixed cost per run
    val runKmeans = only.forall(_.exists("e_ann_ivf_kmeans".startsWith))
    // filtered-out renders as null, failed as -1.0 — the two used to
    // share the -1.0 sentinel, making a SPARK_GRAFT_BENCH_ONLY run's
    // extras indistinguishable from a genuine failure in the JSON
    val extras = if (!runKmeans) s"""{"e_ann_ivf_kmeans":null}""" else {
      timeKmeansIvf() // warmup
      val ts = Seq.fill(2)(timeKmeansIvf())
      val kmeansIvf = if (ts.exists(_ < 0)) -1.0 else ts.min
      s"""{"e_ann_ivf_kmeans":$kmeansIvf}"""
    }
    // tripwire: a single query dominating the suite is how the r4
    // plan-size regression slipped past local runs — flag any query
    // above 8x the per-query median (and above 2s absolute, so
    // sub-second medians don't flag honest 1s queries) before the
    // headline line, where it can't be missed
    val oks = results.collect { case (_, v) if v >= 0 => v }.sorted
    if (oks.nonEmpty) {
      // floor the ratio denominator: an all-sub-hundredth suite with
      // one outlier would otherwise print "Infinityx the median 0.00s"
      val median = math.max(oks(oks.size / 2), 0.01)
      results.collect {
        case (n, v) if v > math.max(median * 8, 2.0) =>
          println(f"BENCH-TRIPWIRE: $n%s took $v%.2fs (${v / median}%.1fx the per-query median $median%.2fs) - audit its plan before shipping")
      }
    }
    val (line, failedNames) = renderLine(results, extras, sfDir)
    println(line)
    // the stdout line is also written to a file: captured stdout tails
    // get truncated (BENCH_r07.json lost 39 of 102 per-query timings),
    // and round-over-round deltas need the full per-query map
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(outPath, line + "\n")
    spark.stop()
    if (failedNames.nonEmpty) {
      System.err.println(
        s"[bench] FAILED queries (${failedNames.size}): " +
          failedNames.mkString(", "))
      sys.exit(1)
    }
  }

  /** The emitted JSON line and the failed-query names. A failed query
    * (the -1 sentinel) must invalidate the headline total — never
    * silently deflate it — AND be NAMED in the line itself: r10
    * shipped rc:0 with 18 queries at the sentinel, and the
    * green-looking artifact hid a red board until the judge diffed
    * the per-query map. main() exits nonzero whenever the returned
    * name list is non-empty. Pure so the contract is spec-able
    * without a SparkSession.
    */
  private[graft] def renderLine(
      results: Seq[(String, Double)], extras: String, sfDir: String,
  ): (String, Seq[String]) = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total =
      if (results.exists(_._2 < 0)) -1.0
      else results.map(_._2).sum
    val failedNames = results.collect { case (n, v) if v < 0 => n }
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    (s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"extras":$extras,"failed":$failedJson,"sf":"$sfDir"}""",
      failedNames)
  }
}
