package graft

import org.apache.spark.sql.functions._

/** Throwaway optimization-round prober: times named sub-stages of an
  * operator with the noop sink (guide §1.4/§1.5) so a multi-join
  * pipeline's cost can be attributed stage by stage without the UI.
  *
  *   sbt "Test/runMain graft.StageProbe /tmp/sf1 containment"
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1")
    val what = if (args.length > 1) args(1) else "containment"
    val spark = GraftSession.local()
    import spark.implicits._

    val io = new org.apache.spark.scheduler.SparkListener {
      val sr = new java.util.concurrent.atomic.AtomicLong
      val sw = new java.util.concurrent.atomic.AtomicLong
      val sp = new java.util.concurrent.atomic.AtomicLong
      override def onStageCompleted(
          ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = ev.stageInfo.taskMetrics
        if (m != null) {
          sr.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          sw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          sp.addAndGet(m.diskBytesSpilled)
        }
      }
    }
    spark.sparkContext.addSparkListener(io)

    def time(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      spark.sparkContext.setJobDescription(name)
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      val b = (io.sr.get, io.sw.get, io.sp.get)
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      def mb(x: Long) = f"${x / 1048576.0}%.0f"
      println(f"[probe] $name%-28s $secs%8.2f s  sr=${mb(io.sr.get - b._1)} sw=${mb(io.sw.get - b._2)} spill=${mb(io.sp.get - b._3)} MB")
    }

    what match {
      case "containment" =>
        val docs = Tables(spark, dir, "documents")
        val g = docs
          .withColumn("hs", graft.functions.WordNgramHashes($"text", operators.Dedup.NgramN))
          .withColumn("n", size($"hs"))
          .select($"doc_id", $"lang", $"n", explode($"hs").as("gh"))
        time("g (gram explode)")(g)
        val gp = g.persist()
        gp.count()
        val gdf = gp.groupBy($"lang", $"gh")
          .agg(count(lit(1)).as("df"), min($"doc_id").as("mn"))
        time("gdf (df agg, g cached)")(gdf)
        val withDf = gp.join(gdf, Seq("lang", "gh"))
        time("withDf (g join gdf)")(withDf)
        val cands = operators.Dedup.containmentCandidates(docs, operators.Dedup.NgramDfCap)
        time("candidates (full)")(cands)
        time("full query")(operators.Dedup.dedupContainment(spark, dir))
      case "erlink" =>
        time("full linkPairs + labels") {
          operators.EntityResolution.clearLinkCache()
          operators.EntityResolution.pairsOf(spark, dir)
        }
        val pairs = operators.EntityResolution.pairsOf(spark, dir)
        println(s"[probe] link pairs: ${pairs.count()}")
      case "erplan" =>
        // linkPairs is a build stage, not a registry query — Explain
        // can't reach its pre-checkpoint plan; print it here
        val cust = Tables(spark, dir, "customer")
          .select($"c_custkey".as("key"), $"c_name".as("name"),
            $"c_nationkey".as("nation"))
        operators.EntityResolution.linkPairs(cust).explain("formatted")
      case "knnplan" =>
        // mirror knnEdges' width derivation so the dumped plan is the
        // one the priced build actually executes
        import operators.Similarity._
        val n = Tables(spark, dir, "embeddings").count()
        val pairBytes = n * KnnTables.toLong * KnnTargetBucket * 48L
        val np = math.max(spark.sparkContext.defaultParallelism,
          math.min(4096L, pairBytes / KnnShufflePartitionBytes).toInt)
        val pinned =
          if (np > spark.sparkContext.defaultParallelism) Some(np) else None
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        try {
          spark.conf.set("spark.sql.shuffle.partitions", np.toString)
          operators.Similarity.knnGraphFresh(spark, dir, pinned).explain("formatted")
        } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      case "knn" =>
        // the real priced path (knnEdges: width wrap + localCheckpoint)
        spark.sparkContext.setJobDescription("knn edges build")
        val io0 = (io.sr.get, io.sw.get, io.sp.get)
        val t0 = System.nanoTime()
        operators.Similarity.clearTrainCache()
        operators.Similarity.knnEdges(spark, dir)
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        println(f"[probe] knn edges build ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
          f"  sr=${(io.sr.get - io0._1) / 1048576} sw=${(io.sw.get - io0._2) / 1048576}" +
          f" spill=${(io.sp.get - io0._3) / 1048576} MB")
      case "candcount" =>
        val docs = Tables(spark, dir, "documents")
        val c = operators.Dedup.containmentCandidates(docs, operators.Dedup.NgramDfCap)
        println(s"[probe] containment candidates: ${c.count()}")
      case _ => sys.error(s"unknown probe $what")
    }
    spark.stop()
  }
}
