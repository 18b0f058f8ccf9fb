package graft

/** Subset benchmark for iterating on individual operators without
  * paying a full [[Bench]] suite run: `runMain graft.BenchSome q1_agg
  * kmeans_train_build er_link_build` times just the named entries
  * (same noop-write protocol; a build-stage name clears and rebuilds
  * that [[Bench.buildStages]] entry) for [[Bench.Sweeps]] sweeps against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. */
object BenchSome {
  private val builds = Bench.buildStages.map(b => b.name -> b).toMap

  /** The names that are neither a build stage nor a registered query. */
  def unknown(names: Seq[String]): Seq[String] =
    names.filterNot(n => builds.contains(n) || SparkEntry.queries.contains(n))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dedupe: a repeated arg would double-count its sweeps. Sweeps >= 1
    // is enforced by Bench.Sweeps' own initializer (referencing it at
    // all throws on a bad GRAFT_BENCH_SWEEPS), so no re-check here —
    // the time vectors below can never be empty.
    val names = (if (args.nonEmpty) args.toSeq else Seq("q1_agg")).distinct
    val bad = unknown(names)
    require(bad.isEmpty, s"unknown entries: ${bad.mkString(",")}")
    val spark = GraftSession.local()
    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    for (sweep <- 0 to Bench.Sweeps) { // sweep 0 = untimed warmup
      names.foreach { name =>
        System.gc()
        val t0 = System.nanoTime()
        builds.get(name) match {
          case Some(b) => b.clear(); b.build(spark, sfDir)
          case None =>
            SparkEntry.queries(name)(spark, sfDir)
              .write.mode("overwrite").format("noop").save()
        }
        if (sweep > 0)
          times(name) = times(name) :+ (System.nanoTime() - t0) / 1e9
      }
    }
    val line = names.map { n =>
      val ts = times(n)
      f""""$n":{"min":${ts.min}%.3f,"spread":${ts.max - ts.min}%.3f}"""
    }.mkString("{", ",", "}")
    spark.stop()
    println(line)
  }
}
