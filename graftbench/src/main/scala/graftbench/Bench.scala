package graftbench

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable

/** A workload: inputs made (untimed), the program's set-up (timed once:
  * a second set-up in the same JVM would be a warm one no user pays),
  * an untimed warm-up that lets the JIT and graft's memos settle, then
  * the measured closed loop. */
trait Workload {
  def prepare(): Unit
  def setup(): Unit
  def warm(): Unit
  def measure(): Unit
  /** throughput_per_s and p50_ms for this workload's unit of work. */
  def e2e: Map[String, Double]
  /** Workload-specific figures for the run record. */
  def extras: Map[String, Any]
}

/** One op as the client saw it: wall time, the share of it the hypervisor
  * stole (see Host) and the process CPU time it took. */
final case class OpRec(id: Long, kind: String, ms: Double, startMs: Long,
    endMs: Long, rows: Long, measured: Boolean, steal: Double, cpuMs: Double) {
  /** Wall time with the stolen share taken out. */
  def netMs: Double = ms * (1 - steal)
}

/** State shared by a run: the session, the tracer, op accounting and the
  * peak memory pinned by persisted frames. */
final class Bench(val seed: Long, val seconds: Double, val tr: Tracer,
    val runDir: File, val cores: Int) {
  var spark: SparkSession = _
  var measuring = false
  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty
  var peakPinnedB = 0L
  var memoFills = 0L
  var peakFrames = 0
  private var opSeq = 0L
  private var lastFrames = 0

  val dataDir: File = new File(runDir, "data")
  def tmpDir: File = new File(System.getProperty("java.io.tmpdir"))

  def newSession(): SparkSession = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tr.attach(spark)
    lastFrames = spark.sparkContext.getPersistentRDDs.size
    spark
  }

  def pinnedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Runs one op of the closed loop: tags its Spark jobs with the op id,
    * times it, then checks its result against the reference. A throw or a
    * mismatch counts as a failed op; it is never dropped. Returns the
    * result when it was correct. */
  def op[A](kind: String)(body: => A)(check: A => Option[String]): Option[A] = {
    opSeq += 1
    val id = opSeq
    spark.sparkContext.setLocalProperty(tr.OpKey, id.toString)
    tr.curOp = id
    val startMs = System.currentTimeMillis()
    val st0 = Host.cpuTicks()
    val c0 = Main.cpuSeconds()
    val t0 = System.nanoTime()
    val res = try Right(tr.span("op." + kind)(body)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = (Main.cpuSeconds() - c0) * 1000
    val steal = Host.stealShare(st0, Host.cpuTicks())
    val endMs = System.currentTimeMillis()
    tr.drain(spark)
    tr.curOp = -1L
    spark.sparkContext.setLocalProperty(tr.OpKey, null)
    val rows = res match {
      case Right(a: Array[_]) => a.length.toLong
      case Right((a: Array[_], b: Array[_])) => a.length.toLong + b.length
      case _ => 0L
    }
    ops += OpRec(id, kind, ms, startMs, endMs, rows, measuring, steal, cpuMs)
    val frames = spark.sparkContext.getPersistentRDDs.size
    if (measuring) {
      memoFills += math.max(0, frames - lastFrames)
      peakFrames = math.max(peakFrames, frames)
    }
    lastFrames = frames
    peakPinnedB = math.max(peakPinnedB, pinnedBytes())
    attempted += 1
    val err = res match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(a) =>
        try check(a) catch { case e: Throwable => Some(s"check threw $e") }
    }
    err match {
      case Some(msg) =>
        failed += 1
        if (failures.size < 20) failures += s"op $id $kind: $msg"
        System.err.println(s"[graftbench] FAILED op $id $kind: ${msg.take(500)}")
        None
      case None => res.toOption
    }
  }

  /** Net times (ms) of the measured ops of these kinds, or of all. */
  def measured(kinds: String*): Seq[Double] =
    ops.filter(o => o.measured && (kinds.isEmpty || kinds.contains(o.kind))).map(_.netMs).toSeq

  def measuredMs: Double = ops.filter(_.measured).map(_.ms).sum

  /** Fails when graft's persisted warm-index dirs are present: they are
    * keyed by path, size and mtime only, so a leftover from another run
    * could make this run's set-up skip the index build. */
  def assertNoWarmIndex(): Unit = {
    val left = Option(tmpDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft_warmidx_"))
    require(left.isEmpty, s"state from another run in ${tmpDir}: ${left.map(_.getName).mkString(", ")}")
  }

  def clearCaches(): Unit = {
    graft.Caches.clear()
    graft.Memo.clear(spark)
  }
}

object Bench {
  def du(f: File): (Long, Int) =
    if (!f.exists()) (0L, 0)
    else if (f.isFile) (f.length(), 1)
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(du)
      .foldLeft((0L, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmrf)
    f.delete()
  }
}

/** Host CPU accounting from /proc/stat. Steal is time a virtual CPU
  * wanted to run but the hypervisor ran another guest instead; while it
  * lasts, every thread on that CPU stands still. */
object Host {
  /** (steal ticks, busy ticks: user, nice, system, irq, softirq), summed
    * over every CPU. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (f(7), f(0) + f(1) + f(2) + f(5) + f(6))
    } catch { case _: Throwable => (0L, 0L) }

  /** The share of the CPU time this guest wanted between two readings that
    * was stolen: steal / (busy + steal). Idle CPUs are not stolen from, so
    * they do not dilute it. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double = {
    val (steal, busy) = (b._1 - a._1, b._2 - a._2)
    if (steal + busy > 0) steal.toDouble / (steal + busy) else 0.0
  }
}
