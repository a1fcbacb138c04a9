package graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark work counted at one span boundary (summed over its jobs' tasks). */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var emptyTasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var runMs = 0L
  var cpuNs = 0L
  var resultBytes = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; emptyTasks += o.emptyTasks
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; runMs += o.runMs; cpuNs += o.cpuNs
    resultBytes += o.resultBytes
  }
}

/** Groups jobs and task metrics by the `graftbench.span` local property
  * that the client sets around each call into the engine. Only installed
  * on traced runs; an untraced run sets the property but counts nothing. */
final class JobCounter extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val bySpan = new ConcurrentHashMap[String, Counts]()

  private def counts(span: String): Counts =
    bySpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Span.Key)))
      .getOrElse(Span.Untagged)
    e.stageInfos.foreach(s => stageSpan.putIfAbsent(s.stageId, span))
    val c = counts(span)
    c.synchronized(c.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = counts(Option(stageSpan.get(e.stageId)).getOrElse(Span.Untagged))
      c.synchronized {
        c.tasks += 1
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
          c.emptyTasks += 1
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.resultBytes += m.resultSize
      }
    }
  }

  /** Counts of one span; call after the listener bus has drained. */
  def of(span: String): Counts = Option(bySpan.get(span)).getOrElse(new Counts)

  def total: Counts = {
    val t = new Counts
    bySpan.values.forEach(c => t += c)
    t
  }
}

/** A timed interval of the client: query → build | plan | exec, and the
  * data swaps of a refresh round. Children share their query's id. */
final case class Span(id: Int, parent: Int, query: Int, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** The local-property tag of the jobs launched inside this span. */
  def tag: String = s"$id"
}

object Span {
  val Key = "graftbench.span"
  val Untagged = "untagged"
}
