package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One node of the span tree run → pass → operation → phase → job →
  * stage. Times are epoch milliseconds (the listener's clock); `attrs`
  * carries counts measured at the same boundary. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, var end: Double,
                      attrs: mutable.Map[String, Any] = mutable.Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "kind" -> kind, "name" -> name, "start" -> start, "end" -> end,
    "attrs" -> attrs.toMap)
}

/** Spans kept in memory and written once the run ends. Benchmark-side
  * spans (pass, operation, phase) are opened by the benchmark; job and
  * stage spans come from a SparkListener and attach to the phase whose
  * id the benchmark put in the job description. */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val jobOfStage = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val started = new AtomicLong(0)
  private val ended = new AtomicLong(0)
  private val Prefix = "perfbench:"

  def now: Double = System.nanoTime() / 1e6 - clockSkew
  // nanoTime origin mapped onto the listener's epoch clock once
  private val clockSkew = System.nanoTime() / 1e6 - System.currentTimeMillis()

  def open(kind: String, name: String, parent: Long): Span = {
    val s = Span(ids.incrementAndGet(), parent, kind, name, now, Double.NaN)
    spans.put(s.id, s)
    if (kind == "phase") sc.setJobDescription(Prefix + s.id)
    s
  }

  def close(s: Span): Unit = {
    s.end = now
    if (s.kind == "phase") sc.setJobDescription(null)
  }

  private def add(s: Span, key: String, v: Double): Unit = s.synchronized {
    s.attrs(key) = s.attrs.getOrElse(key, 0.0).asInstanceOf[Double] + v
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.incrementAndGet()
      val desc = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse("")
      val parent =
        if (desc.startsWith(Prefix)) desc.stripPrefix(Prefix).toLong else 0L
      // the result stage carries the job's call site; lower stage ids
      // may be parents that an earlier job already ran
      val last = e.stageInfos.sortBy(_.stageId).lastOption
      val j = Span(ids.incrementAndGet(), parent, "job",
        last.map(_.name).getOrElse(""), e.time.toDouble, Double.NaN)
      // the first line of the long call site names the Spark API that
      // launched the job (DataFrameReader.parquet = schema inference)
      val details = last.map(_.details).getOrElse("")
      j.attrs("api") = details.linesIterator.toSeq.headOption.getOrElse("")
      j.attrs("checkpoint") = if (details.contains("heckpoint")) 1.0 else 0.0
      spans.put(j.id, j)
      jobSpan.put(e.jobId, j)
      e.stageIds.foreach(sid => jobOfStage.put(sid, j.id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobSpan.get(e.jobId)).foreach { j =>
        j.end = e.time.toDouble
        j.attrs("failed") = if (e.jobResult == JobSucceeded) 0.0 else 1.0
      }
      ended.incrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      val s = Span(ids.incrementAndGet(), jobOfStage.getOrDefault(info.stageId, 0L),
        "stage", info.name,
        info.submissionTime.getOrElse(System.currentTimeMillis()).toDouble, Double.NaN)
      s.attrs("tasks") = info.numTasks.toDouble
      spans.put(s.id, s)
      stageSpan.put(info.stageId, s)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        val info = e.taskInfo
        if (e.reason != Success) add(s, "task_failures", 1)
        if (m != null) {
          add(s, "run_s", m.executorRunTime / 1e3)
          add(s, "cpu_s", m.executorCpuTime / 1e9)
          add(s, "gc_s", m.jvmGCTime / 1e3)
          add(s, "scheduler_delay_s", math.max(0L, info.duration -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime) / 1e3)
          add(s, "input_bytes", m.inputMetrics.bytesRead.toDouble)
          add(s, "input_records", m.inputMetrics.recordsRead.toDouble)
          add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(s, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add(s, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
  }

  /** The listener bus delivers events asynchronously: wait until every
    * started job has ended and the count has been still for a moment. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
           (started.get() != ended.get() || last != ended.get())) {
      last = ended.get()
      Thread.sleep(200)
    }
  }

  def all: Seq[Span] = spans.values().asScala.toSeq.sortBy(_.id)
}
