package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark observes from outside the program.
  *
  * Untraced, only the task-CPU counter runs. Traced, the probe also records
  * spans: the benchmark opens an operation span and a call span around each
  * public call, and the Spark job spans are parented to the call through the
  * `perfbench.span` local property set before the call. Planning phases,
  * streaming progress and scan file counts arrive on Spark's listener buses
  * with their own timestamps; they are written as events and attributed to
  * operations by time when the run is summarised. Everything is kept in
  * memory and written out once, after the run.
  *
  * All times are epoch nanoseconds, so benchmark-side spans and Spark's
  * millisecond event times share one clock.
  */
final class Probe(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  val cpuNs = new AtomicLong
  private val tasksSeen = new AtomicLong
  private val jobsSeen = new AtomicLong

  // ---- spans recorded by the benchmark ---------------------------------
  private val nextId = new AtomicLong(1)
  private val spans = ArrayBuffer.empty[String]
  private val events = ArrayBuffer.empty[String]
  private def addSpan(line: String): Unit = spans.synchronized { spans += line; () }
  private def addEvent(line: String): Unit = events.synchronized { events += line; () }

  /** The operation span currently open (0 when none or untraced). */
  private val currentOp = new AtomicReference[java.lang.Long](0L)

  /** Open an operation span around `f`; `traceThis` false records nothing. */
  def op[A](kind: String, key: String, traceThis: Boolean)(f: => A): (A, Long, Long) = {
    val id = if (traceThis) nextId.getAndIncrement() else 0L
    currentOp.set(id)
    val t0 = now()
    val r = try f finally currentOp.set(0L)
    val t1 = now()
    if (traceThis) addSpan(s"span\t$id\t0\top\t$kind\t$key\t$t0\t$t1\t")
    (r, t0, t1)
  }

  /** A call into the program: a child span of the open operation. Between
    * calls the job description is cleared, so a tag the program leaves set
    * never labels the next call's jobs.
    */
  def call[A](layer: String, name: String)(f: => A): A = {
    sc.setJobDescription(null)
    val parent = currentOp.get().longValue
    if (parent == 0L) {
      sc.setLocalProperty(Probe.SpanProp, null)
      return f
    }
    val id = nextId.getAndIncrement()
    sc.setLocalProperty(Probe.SpanProp, id.toString)
    val fs0 = Probe.fsCounters()
    val t0 = now()
    try f
    finally {
      val t1 = now()
      val fs1 = Probe.fsCounters()
      sc.setLocalProperty(Probe.SpanProp, null)
      val fsd = fs1.zip(fs0).map { case (a, b) => a - b }.mkString(";")
      addSpan(s"span\t$id\t$parent\t$layer\t$name\t\t$t0\t$t1\tfs=$fsd")
    }
  }

  // ---- Spark listeners ---------------------------------------------------
  private case class JobRec(id: Int, parent: Long, tag: String, start: Long,
      var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
      var cpuNs: Long = 0L, var runMs: Long = 0L, var gcMs: Long = 0L,
      var shW: Long = 0L, var shR: Long = 0L, var spill: Long = 0L)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsSeen.incrementAndGet()
      if (!traced) return
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(Probe.SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val tag = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("untagged").replaceAll("\\s+", " ")
      val r = JobRec(e.jobId, parent, tag, e.time * 1000000L)
      r.stages = e.stageIds.size
      jobs.put(e.jobId, r)
      e.stageIds.foreach(s => stageJob.put(s, r))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasksSeen.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) cpuNs.addAndGet(m.executorCpuTime)
      if (!traced || m == null) return
      val r = stageJob.get(e.stageId)
      if (r != null) r.synchronized {
        r.tasks += 1
        r.cpuNs += m.executorCpuTime
        r.runMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.shW += m.shuffleWriteMetrics.bytesWritten
        r.shR += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def phase(n: String) = ph.get(n).map(p => (p.startTimeMs, p.endTimeMs))
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      def ms(n: String) = phase(n).map { case (a, b) => b - a }.getOrElse(0L)
      val files = try scanFiles(qe.executedPlan) catch { case _: Throwable => 0L }
      addEvent(s"plan\t${start * 1000000L}\tanalysis=${ms("analysis")}," +
        s"optimization=${ms("optimization")},planning=${ms("planning")},files=$files")
    }
  }

  private def scanFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
    case s: QueryStageExec => scanFiles(s.plan)
    case r: ReusedExchangeExec => scanFiles(r.child)
    case f: FileSourceScanExec =>
      f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => other.children.map(scanFiles).sum
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      def dur(k: String) = d.get(k).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators
      val t = java.time.Instant.parse(p.timestamp)
      val ns = t.getEpochSecond * 1000000000L + t.getNano
      addEvent(s"stream\t$ns\ttrigger=${dur("triggerExecution")}," +
        s"addBatch=${dur("addBatch")},walCommit=${dur("walCommit")}," +
        s"rows=${ops.map(_.numRowsTotal).sum}," +
        s"mem=${ops.map(_.memoryUsedBytes).sum}," +
        s"commit=${ops.map(_.commitTimeMs).sum}")
    }
  }

  sc.addSparkListener(sparkListener)
  if (traced) {
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until listener delivery has caught up with what has run. */
  def settle(): Unit = {
    var last = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(50)
      val cur = jobsSeen.get() + tasksSeen.get() + cpuNs.get()
      if (cur == last) stable += 1 else { stable = 0; last = cur }
    }
  }

  /** Write spans, job spans and listener events to `file`. */
  def write(file: File): Unit = {
    settle()
    val w = new PrintWriter(file, "UTF-8")
    try {
      spans.synchronized(spans.foreach(w.println))
      jobs.values.asScala.toSeq.sortBy(_.id).foreach { r =>
        w.println(s"job\t${r.id}\t${r.parent}\t${r.tag}\t${r.start}\t${r.end}\t" +
          s"stages=${r.stages},tasks=${r.tasks},cpu_ns=${r.cpuNs},run_ms=${r.runMs}," +
          s"gc_ms=${r.gcMs},shuffle_w=${r.shW},shuffle_r=${r.shR},spill=${r.spill}")
      }
      events.synchronized(events.foreach(w.println))
    } finally w.close()
  }
}

object Probe {
  val SpanProp = "perfbench.span"

  /** FileSystem counters: read ops and write ops (metadata and opens, from
    * [[CountingLocalFileSystem]]), then bytes read and bytes written summed
    * over Hadoop's per-scheme statistics. */
  def fsCounters(): Array[Long] = {
    val out = Array(CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get, 0L, 0L)
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.foreach { s =>
      out(2) += s.getBytesRead
      out(3) += s.getBytesWritten
    }
    out
  }

  /** Peak resident set of this JVM in MiB (VmHWM), 0 where /proc is absent. */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) return 0.0
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** The local FileSystem with operation counters. Hadoop's own statistics
  * count bytes but no operations for `file:`, so traced runs register this
  * class as `fs.file.impl`; the program reaches it through the ordinary
  * FileSystem API. Reads: open, list, status probes. Writes: create, mkdirs,
  * rename, delete.
  */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingLocalFileSystem {
  val reads = new AtomicLong
  val writes = new AtomicLong
}
