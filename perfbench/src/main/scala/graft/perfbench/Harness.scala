package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line settings of one run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, report: Path, tiny: Boolean, plantWrong: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Path.of(need("work")).toAbsolutePath,
      Path.of(need("report")).toAbsolutePath,
      m.get("size").contains("tiny"), m.get("plant-wrong").contains("1"))
  }
}

/** What a run measured: latency samples per op class, op outcomes and
  * named values (metrics with a unit, and markers without one). */
final class Results {
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val metrics: mutable.Map[String, (Double, String)] = mutable.LinkedHashMap.empty
  val info: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  var completed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def sample(cls: String, ms: Double): Unit = synchronized {
    samples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += ms
  }
  def put(name: String, v: Double, unit: String): Unit = synchronized { metrics(name) = (v, unit) }

  /** One attempted op: failed when it threw or its answer was wrong. */
  def outcome(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (ok) completed += 1
    else {
      failed += 1
      if (failures.size < 20) failures += what
    }
  }

  /** Run an op of class `cls` on the client; `check` judges its answer. */
  def run[A](spark: Option[SparkSession], cls: String)(f: => A)(
      check: A => Boolean): Option[A] = {
    try {
      val (a, ms) = Trace.op(cls) { id => spark.foreach(s => Layers.tagOp(s, id)); f }
      sample(cls, ms)
      val ok = try check(a) catch { case e: Exception => false }
      outcome(ok, s"$cls: wrong answer")
      Some(a)
    } catch {
      case e: Exception =>
        outcome(ok = false, s"$cls: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        None
    }
  }

  /** Failed ops of an unmeasured phase count as failed ops of the run. */
  def absorbFailures(o: Results): Unit = synchronized {
    attempted += o.failed; failed += o.failed
    failures ++= o.failures.take(20 - failures.size)
  }
}

object Stats {
  /** Linear-interpolated quantile (p in [0, 1]). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.size == 1) s.head
    else {
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Host markers recorded beside the metrics: the 1-minute load average
  * and the time of a fixed single-thread calibration task. */
object Host {
  def load1m(): Double =
    try Files.readString(Path.of("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** A fixed CPU task: sort the same 400k pseudo-random ints 5 times. */
  def calibrationMs(): Double = {
    val r = new java.util.SplittableRandom(42L)
    val base = Array.fill(400000)(r.nextInt())
    val t0 = System.nanoTime()
    var sink = 0L
    (1 to 5).foreach { _ =>
      val a = base.clone(); java.util.Arrays.sort(a); sink += a(a.length / 2)
    }
    if (sink == 42L) println("") // keeps the sorts from being optimised away
    (System.nanoTime() - t0) / 1e6
  }

  def markers(res: Results, when: String): Unit = {
    res.info(s"host.load1m_$when") = load1m()
    res.info(s"host.calib_ms_$when") = calibrationMs()
  }
}

/** JVM MXBean readings. */
object Jvm {
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  def gcCount: Long = gcs.map(_.getCollectionCount).filter(_ >= 0).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** Heap in use after a full collection. */
  def heapUsedAfterGcMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** A walk of a repo root at run end: the `storage` layer. */
final case class Storage(objects: Long, dataBytes: Long, metaBytes: Long) {
  def total: Long = dataBytes + metaBytes
}

object Storage {
  def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.endsWith(".parquet") || n.endsWith(".bloom")
  }
  def walk(root: Path): Storage = {
    var objs = 0L; var data = 0L; var meta = 0L
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.foreach { p =>
        if (Files.isRegularFile(p)) {
          objs += 1
          val sz = try Files.size(p) catch { case _: Exception => 0L }
          if (isData(p)) data += sz else meta += sz
        }
      } finally s.close()
    }
    Storage(objs, data, meta)
  }
  /** Paths of every regular file under `root`. */
  def files(root: Path): Set[String] =
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
      finally s.close()
    }
}

object Session {
  /** The benchmark's SparkSession: `local[N]` with N ≤ nproc, shuffle
    * partitions = N, a `g` catalog rooted in the run's work directory
    * (the plain catalog untraced, the timed subclass traced). */
  def create(a: Args, root: Path): SparkSession = {
    val n = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val local = a.work.resolve("spark-local"); Files.createDirectories(local)
    val catClass =
      if (a.trace) classOf[TracedCatalog].getName
      else classOf[graft.catalog.GraftCatalog].getName
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.default.parallelism", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.g", catClass)
      .config("spark.sql.catalog.g.root", root.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (a.trace) Layers.install(s)
    s
  }
}
