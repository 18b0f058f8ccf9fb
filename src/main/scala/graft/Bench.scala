package graft

import org.apache.spark.sql.SparkSession

/** A memoized build stage: `clear` drops its memo and nothing else,
  * `build` rebuilds it for a data dir. [[Bench.buildStages]] lists
  * every stage once; [[Bench]] and [[BenchSome]] iterate that list. */
final case class BuildStage(name: String, clear: () => Unit,
    build: (SparkSession, String) => Any)

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, JSON to stdout and `BENCH_FULL.json`.
  *
  * Queries are forced through a `noop`-format write so the FULL plan
  * executes (a bare `count()` would let Catalyst prune projections and
  * under-report the work). AQE is on, the configuration a production
  * cluster would run.
  *
  * Timing protocol: [[Sweeps]] full passes over the suite, reporting
  * each query's MIN with its observed max−min `spread` alongside — a
  * single sample cannot distinguish a regression from host noise. An
  * untimed warmup first runs one query and builds every stage, so
  * sweep timings measure the steady state; a warmup failure is recorded
  * under `warmup_failed` and counted in `failed`.
  *
  * Each sweep clears and rebuilds every [[buildStages]] entry as its own
  * timed `*_build` entry, so a shared build is priced exactly once per
  * sweep under its own name and every consuming query measures pure
  * consumption of the memo — the accounting a real pipeline run has.
  *
  * Emission is three-fold, because the run's captured output keeps
  * only its last ~2000 characters:
  *   1. the FULL result (3-decimal minimums + spreads + total) is
  *      written to `BENCH_FULL.json` in the working directory;
  *   2. a verbose one-line JSON (same content) prints first;
  *   3. a COMPACT line prints LAST, sized well under the capture
  *      window: the most expensive per-query minimums individually
  *      (greedy by cost until the character budget), the cheap rest
  *      aggregated as {n, sum}, and the TOTAL at the line's end. */
/** Cumulative stage-level I/O counters — shuffle read/write and spill
  * bytes summed over every completed stage since registration. Wall-time
  * at local[32]/sf0.1 cannot see a plan that silently starts moving 10×
  * the data at the same latency (32 local cores hide a lot of shuffle);
  * bytes can — so the bench artifact carries both, and a shuffle-volume
  * regression is decidable from BENCH_FULL.json alone, same as a time
  * regression. Reads must be preceded by [[org.apache.spark.graft
  * .ListenerDrain.drain]] (stage events post asynchronously). */
private final class IoListener extends org.apache.spark.scheduler.SparkListener {
  import java.util.concurrent.atomic.AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  override def onStageCompleted(
      ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
    val m = ev.stageInfo.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }
  def snapshot: (Long, Long, Long) =
    (shuffleRead.get, shuffleWrite.get, spill.get)
}

object Bench {
  /** Sweeps per suite run — env-overridable (GRAFT_BENCH_SWEEPS) so the
    * sf10 gate can afford a single sweep; the artifact records the
    * count, so a 1-sweep run is visibly a 1-sweep run. Committed
    * baselines always use the default 3. */
  val Sweeps: Int = {
    val n = sys.env.get("GRAFT_BENCH_SWEEPS").map(_.toInt).getOrElse(3)
    require(n >= 1, s"GRAFT_BENCH_SWEEPS must be >= 1, got $n")
    n
  }

  /** Character budget for the compact line's per-query map — the
    * 2000-char capture window minus the trailing sbt status line and
    * the compact line's own framing, with safety margin. */
  val CompactBudget = 1500

  /** Every memoized build stage, in sweep order (later stages read
    * earlier stages' memos). */
  val buildStages: Seq[BuildStage] = {
    import operators._
    import kmeans.KMeansQueries
    Seq(
      BuildStage("dedup_pairs_build", () => Dedup.clearPairCache(), Dedup.ngramPairs),
      BuildStage("dedup_labels_build", () => Dedup.clearLabelCache(), Dedup.ngramLabels),
      BuildStage("ann_train_build", () => Similarity.clearAnnCache(), Similarity.trainAnn),
      BuildStage("knn_graph_build", () => Similarity.clearKnnCache(), Similarity.knnEdges),
      BuildStage("kmeans_train_build", () => KMeansQueries.clearFitCache(),
        KMeansQueries.trainFit),
      BuildStage("er_link_build", () => EntityResolution.clearLinkCache(),
        EntityResolution.pairsOf),
      BuildStage("dsir_train_build", () => DataSelection.clearTrainCache(),
        DataSelection.trainWeights),
      BuildStage("dsir_score_build", () => DataSelection.clearScoreCache(),
        DataSelection.trainScored),
      BuildStage("lm_score_build", () => LangModel.clearScoreCache(), LangModel.trainScores),
      BuildStage("quality_score_build", () => TextAnalysis.clearScoreCache(),
        TextAnalysis.trainQualityScores),
      BuildStage("bpe_train_build", () => TextAnalysis.clearBpeCache(), TextAnalysis.trainBpe),
      BuildStage("clf_train_build", () => LangModel.clearClfCache(),
        LangModel.clfLearnedWeights))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // GRAFT_BENCH_ONLY=<comma-separated names>: targeted re-bench of a
    // family under iteration; the emitted JSON is a partial artifact,
    // never a BENCH_FULL_* replacement.
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.local()
    val (full, compact) = run(spark, sfDir, buildStages, only)
    println(full)
    try {
      val out = java.nio.file.Paths.get(sys.env.getOrElse("GRAFT_BENCH_OUT", "BENCH_FULL.json"))
      java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_FULL.json write failed: ${e.getMessage}")
    }
    // the compact gate line prints LAST, after spark.stop(), so no
    // shutdown logging can land between it and the capture window
    spark.stop()
    println(compact)
  }

  /** The warmup and [[Sweeps]] timed sweeps over `stages` and the
    * queries `only` names (all when None); returns the full JSON line
    * (the `BENCH_FULL.json` content) and the compact gate line. With
    * `only` set, the sweeps skip the stage clears and rebuilds: the
    * warmup already built every stage, so filtered query times measure
    * the same steady state a full run does. */
  def run(spark: SparkSession, sfDir: String, stages: Seq[BuildStage],
      only: Option[Set[String]]): (String, String) = {
    // runs `body`, logging and returning what it threw
    def attempt(name: String)(body: => Any): Option[Throwable] =
      try { body; None }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Some(e)
      }
    val warmupFailed = scala.collection.mutable.LinkedHashMap[String, String]()
    def warm(name: String)(body: => Any): Unit =
      attempt(s"warmup $name")(body).foreach(e => warmupFailed(name) = e.getClass.getName)
    def query(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
    warm("q1_agg")(query("q1_agg"))
    stages.foreach(b => warm(b.name) { b.clear(); b.build(spark, sfDir) })
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    // per-query I/O (shuffle read / shuffle write / spill bytes), the
    // MAX across sweeps — bytes are plan-determined and near-identical
    // sweep to sweep, and max is the conservative gate side
    val listener = new IoListener
    spark.sparkContext.addSparkListener(listener)
    val io = scala.collection.mutable.Map[String, (Long, Long, Long)]()
    def timed(name: String)(body: => Any): Unit = {
      // settle GC debt from earlier queries so it isn't billed here
      System.gc()
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      val before = listener.snapshot
      val t0 = System.nanoTime()
      val ok = attempt(name)(body).isEmpty
      // a failed run records -1, never its time-to-exception — a
      // breakage must not read as a speedup in the JSON line
      times(name) = times(name) :+ (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      if (ok) {
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        val after = listener.snapshot
        val d = (after._1 - before._1, after._2 - before._2, after._3 - before._3)
        val p = io.getOrElse(name, (0L, 0L, 0L))
        io(name) = (math.max(p._1, d._1), math.max(p._2, d._2), math.max(p._3, d._3))
      }
    }
    for (_ <- 1 to Sweeps) {
      if (only.isEmpty) stages.foreach { b => b.clear(); timed(b.name)(b.build(spark, sfDir)) }
      names.foreach(n => timed(n)(query(n)))
    }
    val results = times.keys.toSeq.sorted.map { name =>
      val ts = times(name)
      if (ts.contains(-1.0)) (name, -1.0, -1.0)
      else (name, ts.min, ts.max - ts.min)
    }
    // failed entries report -1 in `queries` but are EXCLUDED from the
    // total (summing the sentinel would make a breakage read as a
    // speedup); the explicit count — entries that failed in a sweep or
    // in the warmup — makes a partial run unmistakable
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val failed = (results.filter(_._2 < 0).map(_._1) ++ warmupFailed.keys).distinct.size
    val sfName = new java.io.File(sfDir).getName

    def obj(f: (String, Double, Double) => Double): String =
      results.map { case (k, mn, sp) => "\"" + k + f"""":${f(k, mn, sp)}%.3f""" }
        .mkString("{", ",", "}")
    def mb(b: Long): String = f"${b / 1048576.0}%.2f"
    // per-query I/O in MB: shuffle read / shuffle write / disk spill —
    // the volume side of the gate (see IoListener)
    val ioStr = results.map { case (k, _, _) =>
      val (sr, sw, sp) = io.getOrElse(k, (0L, 0L, 0L))
      s""""$k":{"sr":${mb(sr)},"sw":${mb(sw)},"sp":${mb(sp)}}"""
    }.mkString("{", ",", "}")
    val ioTot = {
      val vs = results.flatMap(r => io.get(r._1))
      s"""{"read_mb":${mb(vs.map(_._1).sum)},"write_mb":${mb(vs.map(_._2).sum)},"spill_mb":${mb(vs.map(_._3).sum)}}"""
    }
    val warmupStr = warmupFailed.map { case (k, c) => s""""$k":"$c"""" }
      .mkString("{", ",", "}")
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","spread":${obj((_, _, sp) => sp)},"queries":${obj((_, mn, _) => mn)},"io_mb":$ioStr,"io_total":$ioTot,"sweeps":$Sweeps,"failed":$failed,"warmup_failed":$warmupStr,"sf":"$sfDir"}"""
    // compact gate line. Failures sort FIRST (Double.MaxValue key):
    // their -1 sentinel would otherwise rank them as if they cost 1 s
    // and let them be displaced from the captured artifact by a tight
    // budget — a breakage must always be visible in the compact line
    val byCost = results.sortBy { case (_, mn, _) =>
      -(if (mn < 0) Double.MaxValue else mn)
    }
    val entries = byCost.map { case (k, mn, _) =>
      k -> (if (mn >= 10 || mn < 0) f""""$k":$mn%.1f""" else f""""$k":$mn%.2f""")
    }
    var used = 0
    val keep = scala.collection.mutable.LinkedHashSet[String]()
    entries.foreach { case (k, s) =>
      if (used + s.length + 1 <= CompactBudget) { keep += k; used += s.length + 1 }
    }
    val kept = entries.filter(e => keep(e._1)).sortBy(_._1).map(_._2).mkString(",")
    val rest = results.filter(r => !keep(r._1) && r._2 >= 0)
    val restStr = f""","rest":{"n":${rest.size},"sum":${rest.map(_._2).sum}%.3f}"""
    val compact =
      f"""{"q":{$kept}$restStr,"metric":"total","value":$total%.3f,"unit":"sec","io_total":$ioTot,"sweeps":$Sweeps,"failed":$failed,"sf":"$sfName","fullAt":"BENCH_FULL.json"}"""
    (full, compact)
  }
}
