package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spans plus Spark work, attributed to layers by job group.
  *
  * `span(op, layer)` runs one call into a layer under the job group
  * `op/layer`; the listener files every job, stage and task by the group
  * its job was submitted under (never by wall-clock window, which
  * interleaves across calls). Spans are kept in memory and written out
  * when the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val groups = mutable.Map.empty[String, Work]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val spans = mutable.ArrayBuffer.empty[Span]

  private val listener = new SparkListener {
    private def group(props: java.util.Properties): Option[String] =
      Option(props).flatMap(p => Option(p.getProperty(SparkJobGroup)))

    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      group(e.properties).foreach { g =>
        groups.getOrElseUpdate(g, new Work).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val id = e.stageInfo.stageId
      stageGroup.get(id).foreach { g =>
        val w = groups.getOrElseUpdate(g, new Work)
        w.stages += 1
        taskTimes.remove(id).filter(_.nonEmpty).foreach { ts =>
          val sorted = ts.sorted
          val median = math.max(1L, sorted(sorted.length / 2))
          w.maxSkew = math.max(w.maxSkew, sorted.last.toDouble / median)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val w = groups.getOrElseUpdate(g, new Work)
        w.tasks += 1
        taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  sc.addSparkListener(listener)

  def span[T](op: Int, layer: String)(body: => T): T = {
    val g = s"$op/$layer"
    sc.setJobGroup(g, g)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(op, layer, t0, System.nanoTime())
      sc.clearJobGroup()
    }
  }

  /** Work of one span's job group, complete once the bus is drained. */
  def work(op: Int, layer: String): Work = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    synchronized(groups.getOrElse(s"$op/$layer", new Work))
  }

  def close(): Unit = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
  }

  /** Spans as JSON lines: op id (shared by the spans of one operation),
    * layer, start and end in nanoseconds. Every span's parent is its
    * operation.
    */
  def spansJson: String = spans.map { s =>
    s"""{"op":${s.op},"layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("\n")
}

object Tracer {
  private val SparkJobGroup = "spark.jobGroup.id"

  final case class Span(op: Int, layer: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final class Work {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    var maxSkew = 0.0
  }
}
