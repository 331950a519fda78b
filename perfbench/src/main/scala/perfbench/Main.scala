package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Datastream
import graft.model.{DeriveOps, EnsureSpec, Granularity}

/** The benchmark's JVM side: one workload, one client thread, closed loop.
  *
  * Usage: perfbench.Main <workload> <inputDir> <outDir> <seconds> <trace 0|1>
  *   [gate query names...]
  *
  * It reads the generated inputs from `inputDir`, builds the workload's
  * fixture and warms it up (set-up), runs timed operations for `seconds`,
  * then writes the raw measurements and the
  * program's outputs for checking to `outDir`. Statistics and output checks
  * are done by run.py, outside the JVM and outside the timed window.
  */
object Main {
  private def tsv(f: String): Seq[Array[String]] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector
    finally src.close()
  }
  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  /** One timed operation as run.py reads it. */
  private final case class OpRec(kind: String, key: String, traced: Boolean,
      t0: Long, t1: Long, ok: Boolean, extra: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, in, out, secondsS, traceS) = args.take(5)
    val gateNames = args.drop(5).toSeq
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    new File(out).mkdirs()

    val tStart = System.nanoTime()
    val cpus = sys.env.getOrElse("PERFBENCH_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
    // traced runs count FileSystem operations on the local store
    if (traced) builder.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    val probe = new Probe(spark, traced)
    val sessionS = (System.nanoTime() - tStart) / 1e9

    val w: Workload = workload match {
      case "store_ingest" => new Ingest(spark, probe, in, out)
      case "store_dashboard" => new Dashboard(spark, probe, in, out)
      case "gate_mix" => new GateMix(spark, probe, in, out, gateNames)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupStart = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - setupStart) / 1e9

    // timed window: closed loop; the operation in flight when time is up
    // completes and counts, and so does the rest of an unfinished pass. A
    // traced run traces its first unit (operation or pass) and goes on to
    // run an untraced one, its own reference for the tracing overhead.
    probe.settle()
    val cpu0 = probe.cpuNs.get()
    val ops = ArrayBuffer.empty[OpRec]
    val w0 = probe.now()
    val deadline = w0 + (seconds * 1e9).toLong
    var i = 0
    var refStarted = false
    while (w.hasNext(i) &&
        (probe.now() < deadline || !w.passStart(i) || (traced && !refStarted))) {
      val traceThis = traced && w.traceOp(i)
      refStarted ||= traced && !traceThis
      w.prepare(i)
      val ((ok, extra), t0, t1) = probe.op(w.kind(i), w.key(i), traceThis) {
        try w.run(i) catch { case e: Throwable =>
          System.err.println(s"[perfbench] op $i failed: $e")
          (false, "")
        }
      }
      ops += OpRec(w.kind(i), w.key(i), traceThis, t0, t1, ok, extra)
      i += 1
    }
    val w1 = probe.now()
    probe.settle()
    val cpuTimed = probe.cpuNs.get() - cpu0

    w.finish()
    if (traced) probe.write(new File(s"$out/trace.tsv"))

    val pw = new PrintWriter(s"$out/ops.tsv", "UTF-8")
    try ops.foreach { o =>
      pw.println(Seq(o.kind, o.key, if (o.traced) 1 else 0, o.t0, o.t1,
        if (o.ok) 1 else 0, o.extra).mkString("\t"))
    } finally pw.close()
    val extras = w.summary.map { case (k, v) => s""","$k":$v""" }.mkString
    Files.writeString(Paths.get(s"$out/run.json"),
      s"""{"session_s":$sessionS,"setup_s":$setupS,""" +
      s""""window_ns":${w1 - w0},"cpu_ns":$cpuTimed,""" +
      s""""peak_rss_mb":${Probe.peakRssMb()},"cpus":$cpus$extras}""")
    spark.stop()
  }

  // ---- workloads ---------------------------------------------------------

  private trait Workload {
    /** Build the fixture and run the untimed warm-up operations. */
    def setup(): Unit
    def hasNext(i: Int): Boolean
    def kind(i: Int): String
    def key(i: Int): String
    /** Whether a traced run traces operation i; untraced ones are its
      * reference for the tracing overhead. */
    def traceOp(i: Int): Boolean = i % 2 == 0
    /** Whether operation i starts a pass; the window ends only there. */
    def passStart(i: Int): Boolean = true
    /** Client-side work before operation i, outside its timing. */
    def prepare(i: Int): Unit = ()
    /** Run operation i: (completed without error, extra fields for run.py). */
    def run(i: Int): (Boolean, String)
    /** After the timed window: write the outputs run.py checks. */
    def finish(): Unit
    def summary: Seq[(String, String)] = Nil
  }

  /** Declares the streams listed in streams.tsv (name, kind, sources,
    * tags): raw streams first, then the derived ones, which name their
    * sources by id. Returns name -> stream id. */
  private def declare(ds: Datastream, rows: Seq[Array[String]]): Map[String, String] = {
    def op(r: Array[String]) = r(1) match {
      case "derivative" => Some(DeriveOps.Derivative)
      case "counter_derivative" => Some(DeriveOps.CounterDerivative)
      case "sum" => Some(DeriveOps.Sum)
      case _ => None
    }
    def tags(r: Array[String]) =
      if (r.length < 4 || r(3).isEmpty) Map.empty[String, String]
      else r(3).split(",").map { kv => val Array(a, b) = kv.split("=", 2); a -> b }.toMap
    def ensure(rs: Seq[Array[String]], ids: Map[String, String]) =
      rs.zip(ds.ensureStreams(rs.map(r => EnsureSpec(queryTags = Map("name" -> r(0)),
        tags = tags(r), deriveOp = op(r),
        deriveFrom = r(2).split(",").toSeq.filter(_.nonEmpty).map(ids)))))
        .map { case (r, o) => r(0) -> o.streamId.getOrElse(sys.error(s"${r(0)}: ${o.error}")) }
        .toMap
    val (raw, derived) = rows.partition(r => op(r).isEmpty)
    val rawIds = ensure(raw, Map.empty)
    rawIds ++ ensure(derived, rawIds)
  }

  /** Files and bytes under a directory tree. */
  private def treeSize(f: File): (Long, Long) =
    if (f.isFile) (1L, f.length)
    else Option(f.listFiles).map(_.map(treeSize)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }).getOrElse((0L, 0L))

  /** Writes the rollups of every stream and the points of the `points`
    * streams, which the output checks compare. */
  private def dumpStore(ds: Datastream, names: Map[String, String], points: Seq[String],
      file: String): Unit = {
    val byId = names.map(_.swap)
    val rows = ds.datapoints
      .where(col("granularity").isin("hours", "days") ||
        (col("granularity") === "seconds" && col("stream_id").isin(points.map(names): _*)))
      .select("stream_id", "granularity", "t", "v_num", "c", "s", "l", "u")
      .collect()
    val pw = new PrintWriter(file, "UTF-8")
    try rows.foreach { r =>
      def d(i: Int) = if (r.isNullAt(i)) "" else r.getDouble(i).toString
      pw.println(Seq(byId.getOrElse(r.getString(0), r.getString(0)), r.getString(1),
        r.getTimestamp(2).getTime / 1000L, d(3),
        if (r.isNullAt(4)) "" else r.getLong(4).toString, d(5), d(6), d(7)).mkString("\t"))
    } finally pw.close()
  }

  /** A workload over a store declared from streams.tsv and fed from
    * points.tsv (batch, stream, t, v) with batch ends in batches.tsv. */
  private abstract class StoreWorkload(spark: SparkSession, in: String, out: String)
      extends Workload {
    import spark.implicits._
    protected val streams = tsv(s"$in/streams.tsv")
    protected val batchEnd = tsv(s"$in/batches.tsv").map(r => r(1).toLong)
    protected val points: Map[Int, Seq[(String, Long, Double)]] =
      tsv(s"$in/points.tsv").map(r => (r(0).toInt, (r(1), r(2).toLong, r(3).toDouble)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    private val root = s"$out/store"
    protected var ds: Datastream = _
    protected var ids: Map[String, String] = Map.empty

    protected def open(): Unit = {
      ds = new Datastream(spark, root)
      ids = declare(ds, streams)
    }
    protected def frame(b: Int): DataFrame =
      points(b).map { case (s, t, v) => (ids(s), ts(t), v) }.toDF("stream_id", "t", "v")
    override def summary: Seq[(String, String)] = {
      val (files, bytes) = treeSize(new File(root))
      Seq("store_files" -> files.toString, "store_bytes" -> bytes.toString)
    }
  }

  private final class Ingest(spark: SparkSession, probe: Probe, in: String, out: String)
      extends StoreWorkload(spark, in, out) {
    private val allOps = tsv(s"$in/ops.tsv").map(r => (r(0).toInt, r(1) == "1"))
    private val warmOps = allOps.takeWhile(_._2).map(_._1)
    private val ops = allOps.dropWhile(_._2).map(_._1)
    private var offered = 0L
    private var written = 0L
    private var warmWritten = Seq.empty[Long]
    private var next: DataFrame = _

    private def ingest(b: Int, df: DataFrame): Long = {
      val r = probe.call("Datastream", "append")(
        ds.appendMultiple(df, checkTimestamp = false, dedupExisting = true))
      probe.call("Datastream", "ladder")(ds.downsampleStreams(ts(batchEnd(b))))
      r.written
    }

    def setup(): Unit = {
      open()
      warmWritten = warmOps.map(b => ingest(b, frame(b)))
    }
    def hasNext(i: Int): Boolean = i < ops.size
    def kind(i: Int): String =
      if (ops(i) == (if (i == 0) warmOps.last else ops(i - 1))) "redelivery" else "batch"
    // batches differ only in their data, so operations are keyed by size
    // (the tracing overhead compares like with like); run.py reads the
    // batch index from the extra fields
    def key(i: Int): String = points(ops(i)).size.toString
    override def prepare(i: Int): Unit = next = frame(ops(i))
    def run(i: Int): (Boolean, String) = {
      val b = ops(i)
      val n = points(b).size
      val w = ingest(b, next)
      offered += n
      written += w
      (true, s"batch=$b,rows=$n,written=$w")
    }
    // the checks compare the points of the derivative streams only
    private def derivatives = streams.filter(_(1) == "derivative").map(_(0))
    def finish(): Unit = {
      ds.flush()
      dumpStore(ds, ids, derivatives, s"$out/store.tsv")
    }
    override def summary: Seq[(String, String)] = super.summary ++ Seq(
      "rows_offered" -> offered.toString, "rows_written" -> written.toString,
      "warmup_written" -> warmWritten.mkString("[", ",", "]"))
  }

  private final class Dashboard(spark: SparkSession, probe: Probe, in: String, out: String)
      extends StoreWorkload(spark, in, out) {
    private val reqs = tsv(s"$in/requests.tsv")
    private val warm = 20
    private val answers = ArrayBuffer.empty[String]

    def setup(): Unit = {
      open()
      batchEnd.indices.foreach { b =>
        ds.appendMultiple(frame(b), checkTimestamp = false, dedupExisting = true)
        ds.downsampleStreams(ts(batchEnd(b)))
      }
      ds.flush()
      (0 until warm).foreach(i => request(i))
    }
    def hasNext(i: Int): Boolean = warm + i < reqs.size
    def kind(i: Int): String = reqs(warm + i)(0)
    def key(i: Int): String =
      if (kind(i) == "get") reqs(warm + i)(2) else reqs(warm + i)(1)

    private def request(j: Int): Seq[String] = {
      val r = reqs(j)
      if (r(0) == "find") {
        val rows = probe.call("Datastream", "find")(
          ds.findStreams(Map(r(1) -> r(2))).select("tags").collect())
        rows.map(_.getMap[String, String](0)("name")).sorted.toSeq
      } else {
        val g = Granularity(r(2))
        val df = probe.call("Datastream", "read.build")(
          ds.getData(ids(r(1)), g, Some(ts(r(3).toLong)), Some(ts(r(4).toLong))))
        val rows = probe.call("Datastream", "read.exec")(df.collect())
        if (g == Granularity.Seconds)
          rows.map(x => s"${x.getAs[Timestamp]("t").getTime / 1000L}:${x.getAs[Double]("v")}").toSeq
        else rows.map { x =>
          s"${x.getAs[Timestamp]("t").getTime / 1000L}:${x.getAs[Long]("count")}:" +
            s"${x.getAs[Double]("sum")}:${x.getAs[Double]("min")}:${x.getAs[Double]("max")}"
        }.toSeq
      }
    }
    def run(i: Int): (Boolean, String) = {
      val rows = request(warm + i)
      answers += s"${warm + i}\t${rows.mkString(" ")}"
      (true, s"rows=${rows.size}")
    }
    def finish(): Unit = {
      val pw = new PrintWriter(s"$out/answers.tsv", "UTF-8")
      try answers.foreach(pw.println) finally pw.close()
    }
  }

  private final class GateMix(spark: SparkSession, probe: Probe, in: String, out: String,
      names: Seq[String]) extends Workload {
    private def query(n: String): DataFrame = SparkEntry.queries(n)(spark, in)

    /** The warm-up pass writes each query's output once; run.py checks those
      * outputs against the DuckDB oracles. The timed passes run the same
      * queries on the same tables through the noop sink, as graft.Bench does.
      */
    def setup(): Unit = names.foreach { n =>
      query(n).coalesce(1).write.mode("overwrite").parquet(s"$out/check/$n")
      SparkEntry.oracleSql.get(n).foreach(sql =>
        Files.writeString(Paths.get(s"$out/check/$n.sql"), sql))
    }
    def hasNext(i: Int): Boolean = true
    def kind(i: Int): String = "query"
    def key(i: Int): String = names(i % names.size)
    override def passStart(i: Int): Boolean = i % names.size == 0
    // whole passes alternate, traced first
    override def traceOp(i: Int): Boolean = (i / names.size) % 2 == 0
    def run(i: Int): (Boolean, String) = {
      val n = key(i)
      probe.call("SparkEntry", n)(
        query(n).write.format("noop").mode("overwrite").save())
      (true, "")
    }
    def finish(): Unit = ()
  }
}
