package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spans around calls into the engine's layers, with Spark task counters
  * attributed to the span that ran them.
  *
  * A span sets the Spark job group to its own name; the listener maps each
  * job's stages to that group, so counters stay with their span even
  * though the listener bus delivers task events asynchronously.
  * `graft.tools.ExecStats` aggregates one body at a time and has no input,
  * output or task-duration counters, so it cannot serve here.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Counters

  private val sc = spark.sparkContext
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val tasks = new AtomicLong(0)
  val seconds: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  private def of(span: String) = counters.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val span = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (span != null) {
        of(span).jobs.incrementAndGet()
        js.stageIds.foreach(stageSpan.put(_, span))
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val span = stageSpan.get(te.stageId)
      val m = te.taskMetrics
      if (span != null && m != null) {
        val c = of(span)
        c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.diskBytesSpilled)
        c.maxTaskMs.getAndUpdate(x => math.max(x, te.taskInfo.duration))
      }
    }
  }
  sc.addSparkListener(listener)

  def apply[T](span: String)(body: => T): T = {
    sc.setJobGroup(span, span)
    val t0 = System.nanoTime()
    try body
    finally {
      seconds(span) = seconds.getOrElse(span, 0.0) + (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
    }
  }

  /** Wait for the asynchronous listener bus to deliver every task event
    * (task count stable over two 50 ms windows, at most 2 s), then detach. */
  def close(): Map[String, Counters] = {
    var last = -1L
    var waited = 0
    while (tasks.get() != last && waited < 40) {
      last = tasks.get(); Thread.sleep(50); waited += 1
    }
    sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    counters.asScala.toMap
  }
}

object Tracer {
  final class Counters {
    val jobs, inputBytes, outputBytes, shuffleBytes, spillBytes, maxTaskMs = new AtomicLong(0)
  }

  /** Force a stage output without writing it anywhere. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
