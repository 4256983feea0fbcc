package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import graft.pipeline.ConvoyPipeline

/** One benchmark invocation in one JVM: set up a session, generate the
  * workload's corpus, then time `ConvoyPipeline.run` + `write` once cold
  * and then warm while `--seconds` allows (and, when tracing, stage by
  * stage through [[Stages]]), checking every run's outputs. Prints `READY` once the
  * session has run a constant trivial action, and one `RESULT <json>`
  * line of raw samples at the end; `run.py` turns those into the record.
  *
  * Usage: Main --workload forest|viral --seed N --seconds S --trace 0|1
  *             --scale TWEETS --cores N --tmp DIR
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores")
    val tmp = opt("tmp")

    HeapPeak.install()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(0, 1000, 1, cores.toInt).selectExpr("sum(id)").collect()
    println("READY")
    System.out.flush()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    try println("RESULT " + json.writeValueAsString(
      measure(spark, opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
        opt("trace") == "1", opt("scale").toInt, tmp)))
    finally spark.stop()
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def measure(spark: SparkSession, workload: String, seed: Long, seconds: Double,
              trace: Boolean, scale: Int, tmp: String): Map[String, Any] = {
    val model = Corpus.generate(workload, seed, scale, s"$tmp/corpus")
    val expected = Check.expected(spark, model)
    val (orig, exp) = (model.originalPaths, model.expansionPaths)

    var attempted = 0
    val problems = mutable.ArrayBuffer.empty[String]
    var failed = 0
    var rows = Map.empty[String, Long]
    var outFiles, outBytes = 0L
    val checkSeconds = mutable.ArrayBuffer.empty[Double]
    // The first good run's output stays until the end: it is checked
    // against the model, and every later run must hash-equal it.
    var reference: String = null
    lazy val referenceHashes = Check.hashes(spark, reference)

    // one pipeline run into a fresh directory, then its checks (untimed)
    def attempt[T](label: String)(body: String => T): Option[T] = {
      attempted += 1
      val out = s"$tmp/out-$attempted"
      var keep = false
      try {
        val r = body(out)
        val checkStart = now()
        val errors =
          if (reference == null) {
            rows = Check.counts(spark, out)
            val e = Check.againstModel(spark, out, model, expected, rows)
            if (e.isEmpty) { reference = out; keep = true }
            e
          } else {
            val got = Check.hashes(spark, out)
            Check.Outputs.filter(n => got(n) != referenceHashes(n))
              .map(n => s"$n: table hash differs from the first run")
          }
        val (files, bytes) = Check.files(out)
        outFiles = files; outBytes = bytes
        checkSeconds += now() - checkStart
        if (errors.isEmpty) Some(r)
        else { failed += 1; problems ++= errors.map(e => s"$label: $e"); None }
      } catch {
        case e: Exception =>
          failed += 1; problems += s"$label: $e"; None
      } finally if (!keep) deleteRecursively(new File(out))
    }

    // (run + write seconds, seconds inside run before any sink)
    def plain(out: String): (Double, Double) = {
      val t0 = now()
      val outputs = ConvoyPipeline.run(spark, orig, exp)
      val t1 = now()
      ConvoyPipeline.write(outputs, out)
      (now() - t0, t1 - t0)
    }

    def traced(out: String): (Double, Map[String, Double], Map[String, Tracer.Counters]) = {
      val tracer = new Tracer(spark)
      val t0 = now()
      val outputs = Stages.run(spark, orig, exp, tracer)
      tracer("sinks") { ConvoyPipeline.write(outputs, out) }
      val total = now() - t0
      (total, tracer.seconds.toMap, tracer.close())
    }

    // The first run is cold. Later runs start only while they are expected
    // (from the previous run's duration) to end within `seconds` of the
    // cold run's start; a traced invocation makes at least one warm and
    // one traced run regardless.
    val start = now()
    var last = 0.0
    def another(done: Int, atLeast: Int) = done < atLeast || now() - start + last <= seconds

    val cold = attempt("cold")(plain)
    cold.foreach(r => last = r._1)
    val warm = mutable.ArrayBuffer.empty[(Double, Double)]
    var w = 0
    while (another(w, if (trace) 1 else 0)) {
      w += 1
      attempt(s"warm$w")(plain).foreach { r => warm += r; last = r._1 }
    }

    val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var n = 0
    while (trace && another(n, 1)) {
      n += 1
      attempt(s"traced$n")(traced).foreach { case (total, secs, counters) =>
        last = total
        def c(span: String) = counters.getOrElse(span, new Tracer.Counters)
        val values = Seq(
          "traced_total_s" -> total,
          "ingest.span_s" -> secs("ingest"),
          "ingest.jobs" -> c("ingest").jobs.get.toDouble,
          "ingest.input_bytes" -> c("ingest").inputBytes.get.toDouble,
          "closure.span_s" -> secs("closure"),
          "closure.jobs" -> c("closure").jobs.get.toDouble,
          "closure.shuffle_bytes" -> c("closure").shuffleBytes.get.toDouble,
          "treestats.span_s" -> secs("treestats"),
          "treestats.max_task_s" -> c("treestats").maxTaskMs.get / 1000.0,
          "treestats.shuffle_bytes" -> c("treestats").shuffleBytes.get.toDouble,
          "treestats.spill_bytes" -> c("treestats").spillBytes.get.toDouble,
          "mart.span_s" -> secs("mart"),
          "mart.shuffle_bytes" -> c("mart").shuffleBytes.get.toDouble,
          "sinks.span_s" -> secs("sinks"),
          "sinks.jobs" -> c("sinks").jobs.get.toDouble,
          "sinks.output_bytes" -> c("sinks").outputBytes.get.toDouble,
          "sinks.scan_amplification" -> c("sinks").inputBytes.get.toDouble / model.jsonlBytes)
        values.foreach { case (k, v) => layers.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
      }
    }

    if (reference != null) deleteRecursively(new File(reference))
    val fixed =
      if (rows.isEmpty) Map.empty[String, Double]
      else Map(
        "ingest.dedup_kept_ratio" -> rows("tweets_i").toDouble / model.tweetRecords,
        "ingest.corrupt_rows" -> rows("_quarantine").toDouble,
        "closure.edges" -> model.edges.toDouble,
        "treestats.largest_group" -> model.largestGroup.toDouble,
        "sinks.files" -> outFiles.toDouble)

    Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "problems" -> problems.toSeq,
      "cold_s" -> cold.map(_._1),
      "warm_s" -> warm.map(_._1).toSeq,
      "construct_s" -> warm.map(_._2).toSeq,
      "check_s" -> checkSeconds.toSeq,
      "out_bytes" -> outBytes,
      "peak_heap_mb" -> HeapPeak.peak / 1048576.0,
      "layers" -> layers.view.mapValues(_.toSeq).toMap,
      "fixed" -> fixed,
      "input" -> (model.properties.toMap ++ Map("tweet_records" -> model.tweetRecords.toDouble)),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version)
  }
}

/** Highest heap occupancy right after a collection, over the JVM's life. */
object HeapPeak {
  @volatile var peak = 0L

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: NotificationEmitter =>
        emitter.addNotificationListener((n: Notification, _: AnyRef) => {
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { if (used > peak) peak = used }
          }
        }, null, null)
      case _ =>
    }
  }
}
