package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Dev diagnostic (not part of the library surface): run the curation
  * batch body DIRECTLY in batch mode over sf slices, attribute
  * executor run time per Spark stage (real call sites — no foreachBatch
  * wrapper swallowing them), and optionally CPU-sample executor
  * threads (CURPROBE_SAMPLE=1). This is the harness that located the
  * round-15 shuffle-writer churn (see Bench.scala's
  * bypassMergeThreshold note) and the dynamic-partition write scatter
  * (see curationBatch's write clustering).
  */
object CurProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val b0 = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => b0.config(k.trim, v.trim)
        case _ =>
      }
    })
    val spark: SparkSession = b0
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val rows = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
      .as[(Long, String, Seq[Double])].collect().sortBy(_._1)
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell_id"), col("embedding").as("centroid"))
    val cm = graft.functions.Similarity.Ivf.centroidMatrix(cents)
    val corpus = java.nio.file.Files.createTempDirectory("probe-corpus").toString
    val groups = rows.grouped(math.max(1, (rows.length + 3) / 4)).toSeq
    def runBatch(g: Seq[(Long, String, Seq[Double])], id: Long): Unit = {
      val df = g.toDF("doc_id", "text", "embedding")
        .withColumn("embedding", col("embedding").cast("array<double>"))
        .withColumn("content_hash", graft.functions.TextAnalysis.fingerprint(col("text")))
      graft.streaming.CorpusIngest.curationBatch(
        df, id, corpus, epoch = 0L,
        foreignHashes = None, benchGrams = None, benchGramN = 8,
        k = 16, bands = 4, shingleN = 3, bandPrefixLen = 1,
        winnowK = 3, winnowW = 4, minShared = 2, maxDf = 50,
        winnowPrefixLen = 2, cm = cm, semThreshold = 0.9, metric = "cosine")
    }
    // warm + index bootstrap: batch 0 goes through the REAL sink (the
    // sidecar ensure runs at sink start, not in the batch body)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cp = java.nio.file.Files.createTempDirectory("probe-cp").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Seq[Double])]
    ms.addData(groups(0))
    graft.streaming.CorpusIngest.StageClock.enabled.set(true)
    graft.streaming.CorpusIngest.startCurationSink(
      ms.toDF().toDF("doc_id", "text", "embedding"), corpus, cp, cents)
      .awaitTermination()
    val stageRun = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val stageDetail = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        j.stageInfos.foreach { si =>
          val inner = si.details.linesIterator
            .filter(l => l.contains("graft.") && !l.contains("CurProbe"))
            .take(2).mkString(" <- ")
          stageDetail.put(si.stageId, "tasks=" + si.numTasks + " " + si.name.take(50) + " " + inner)
        }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          stageRun.computeIfAbsent(t.stageId, _ => new java.util.concurrent.atomic.AtomicLong())
            .addAndGet(t.taskMetrics.executorRunTime)
    })
    // poor-man's CPU sampler: every 10 ms, histogram RUNNABLE executor
    // threads by their topmost "interesting" frame
    val hist = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val all = Thread.getAllStackTraces()
        all.forEach { (t, frames) =>
          if (t.getState == Thread.State.RUNNABLE && t.getName.startsWith("Executor task launch")) {
            val f = frames.find { fr =>
              val c = fr.getClassName
              (c.startsWith("graft.") || c.startsWith("org.apache.spark.sql.catalyst.expressions") ||
               c.startsWith("org.apache.parquet") || c.contains("GeneratedClass") ||
               c.startsWith("org.apache.spark.sql.execution") || c.startsWith("java.util.zip") ||
               c.startsWith("org.xerial.snappy") || c.startsWith("org.apache.spark.storage") ||
               c.startsWith("org.apache.spark.util.collection") || c.startsWith("org.apache.hadoop")) &&
              !c.contains("CurProbe")
            }.orElse(frames.headOption)
            f.foreach { fr =>
              val key = fr.getClassName.replaceAll("\\$\\d+.*", "") + "." + fr.getMethodName
              hist.computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
            }
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    if (sys.env.get("CURPROBE_SAMPLE").contains("1")) sampler.start()
    graft.streaming.CorpusIngest.StageClock.reset()
    val t0 = System.nanoTime()
    groups.zipWithIndex.drop(1).foreach { case (g, i) => runBatch(g, i.toLong) }
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    println(f"WALL=$sec%.1fs (batches 1..${groups.size - 1})")
    println("STAGES=" + graft.streaming.CorpusIngest.StageClock.secondsByStage.toSeq.sortBy(-_._2)
      .map { case (k, v) => f"$k=$v%.1f" }.mkString(","))
    sampling = false
    import scala.jdk.CollectionConverters._
    stageRun.asScala.toSeq.sortBy(-_._2.get).take(8).foreach { case (sid, ms) =>
      println(f"STAGE ${ms.get / 1000.0}%.1fs id=$sid ${Option(stageDetail.get(sid)).getOrElse("?")}")
    }
    val tot = hist.asScala.values.map(_.get).sum.max(1L)
    hist.asScala.toSeq.sortBy(-_._2.get).take(25).foreach { case (k, v) =>
      println(f"CPU ${v.get * 100.0 / tot}%5.1f%% $k")
    }
    spark.stop()
  }
}
