package graft.perfbench

import java.nio.file.Path

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, Table}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.{CaseInsensitiveStringMap, QueryExecutionListener}

import graft.versioned.{GraftIO, LocalGraftIO}

/** `versioned.io`: counts and times every metadata call of the repo it
  * wraps. A `createExclusive` that returns false under `refs/` is a
  * lost ref CAS. */
final class CountingIO(inner: GraftIO) extends GraftIO {
  private def t[A](name: String)(f: => A): A = Trace.span("versioned.io", name)(f)
  private def isRef(p: Path): Boolean =
    p.toString.contains("/refs/")

  override def createExclusive(path: Path, content: String): Boolean = t("createExclusive") {
    val ok = inner.createExclusive(path, content)
    if (ok) {
      Trace.count("versioned.io.writes")
      Trace.count("versioned.io.write_bytes", content.getBytes("UTF-8").length.toLong)
    } else if (isRef(path)) Trace.count("versioned.cas_lost")
    ok
  }
  override def overwrite(path: Path, content: Array[Byte]): Unit = t("overwrite") {
    inner.overwrite(path, content)
    Trace.count("versioned.io.writes")
    Trace.count("versioned.io.write_bytes", content.length.toLong)
  }
  override def readString(path: Path): String = t("read") {
    val s = inner.readString(path)
    Trace.count("versioned.io.reads")
    Trace.count("versioned.io.read_bytes", s.length.toLong)
    s
  }
  override def readBytes(path: Path): Array[Byte] = t("read") {
    val b = inner.readBytes(path)
    Trace.count("versioned.io.reads")
    Trace.count("versioned.io.read_bytes", b.length.toLong)
    b
  }
  override def list(path: Path): Seq[Path] = t("list") {
    Trace.count("versioned.io.lists"); inner.list(path)
  }
  override def walk(path: Path): Seq[Path] = t("list") {
    Trace.count("versioned.io.lists"); inner.walk(path)
  }
  override def isDirectory(path: Path): Boolean = t("stat")(inner.isDirectory(path))
  override def isFile(path: Path): Boolean = t("stat")(inner.isFile(path))
  override def size(path: Path): Long = t("stat")(inner.size(path))
  override def mtimeMs(path: Path): Long = t("stat")(inner.mtimeMs(path))
  override def mkdirs(path: Path): Unit = t("mkdirs")(inner.mkdirs(path))
  override def delete(path: Path): Unit = t("delete")(inner.delete(path))
  override def deleteIfExists(path: Path): Boolean = t("delete")(inner.deleteIfExists(path))
  override def touch(path: Path): Unit = t("touch")(inner.touch(path))
  override def move(path: Path, to: Path): Unit = t("move")(inner.move(path, to))
}

object BenchIO {
  /** The metadata IO every repo the benchmark opens uses: decorated in
    * the traced run, the library default otherwise. */
  lazy val io: GraftIO =
    if (Trace.on) new CountingIO(LocalGraftIO.instance) else LocalGraftIO.instance
}

/** `catalog`: the plain catalog, with its loads and namespace calls
  * timed and its metadata IO decorated. Used only by the traced run. */
class TracedCatalog extends graft.catalog.GraftCatalog {
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    io = new CountingIO(io)
  }
  private def load[A](f: => A): A = Trace.span("catalog", "loadTable") {
    Trace.count("catalog.load_table_calls"); f
  }
  private def ns[A](f: => A): A = Trace.span("catalog", "namespace")(f)

  override def loadTable(ident: Identifier): Table = load(super.loadTable(ident))
  override def loadTable(ident: Identifier, version: String): Table =
    load(super.loadTable(ident, version))
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(super.loadTable(ident, timestamp))
  override def listNamespaces(): Array[Array[String]] = ns(super.listNamespaces())
  override def listNamespaces(n: Array[String]): Array[Array[String]] =
    ns(super.listNamespaces(n))
  override def namespaceExists(n: Array[String]): Boolean = ns(super.namespaceExists(n))
  override def loadNamespaceMetadata(n: Array[String]): java.util.Map[String, String] =
    ns(super.loadNamespaceMetadata(n))
  override def createNamespace(n: Array[String], p: java.util.Map[String, String]): Unit =
    ns(super.createNamespace(n, p))
  override def alterNamespace(n: Array[String], c: NamespaceChange*): Unit =
    ns(super.alterNamespace(n, c: _*))
}

/** `spark`: jobs, stages, tasks and task metrics, attributed to the op
  * whose id the client set as a local property. */
final class SparkLayerListener extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(SparkLayerListener.OpKey)))
      .map(_.toLong).getOrElse(Trace.opAtWall(e.time))
    jobStart.put(e.jobId, (op, System.nanoTime() - (System.currentTimeMillis() - e.time) * 1000000L))
    Trace.count("spark.jobs")
    Trace.classOf(op).foreach(cls => Trace.count(s"spark.jobs.$cls"))
    e.stageIds.foreach(id => stageOp.put(id, op))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
      val t1 = System.nanoTime() - (System.currentTimeMillis() - e.time) * 1000000L
      Trace.record("spark", "job", op, t0, t1)
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Trace.count("spark.stages")
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Trace.count("spark.tasks")
    Option(stageOp.get(e.stageId)).flatMap(Trace.classOf).foreach(cls => Trace.count(s"spark.tasks.$cls"))
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      Trace.count("spark.task_cpu_ns", m.executorCpuTime)
      Trace.count("spark.shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      Trace.count("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      Trace.count("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      Trace.count("spark.gc_ms", m.jvmGCTime)
      Trace.count("spark.rows_read", m.inputMetrics.recordsRead)
      if (i != null) {
        val wait = (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
        Trace.count("spark.scheduler_delay_ms", math.max(0L, wait))
      }
    }
  }
}

object SparkLayerListener {
  val OpKey = "graft.perfbench.op"
}

/** `catalyst`: the planner's phase times from each finished query. */
final class CatalystListener extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit = {
    val now = System.nanoTime(); val wall = System.currentTimeMillis()
    qe.tracker.phases.foreach { case (phase, s) =>
      val op = Trace.opAtWall(s.startTimeMs)
      Trace.record("catalyst", phase, op,
        now - (wall - s.startTimeMs) * 1000000L, now - (wall - s.endTimeMs) * 1000000L)
      Trace.count(s"catalyst.${phase}_ms", s.endTimeMs - s.startTimeMs)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
}

object Layers {
  /** Install the traced run's listeners on `spark`. */
  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkLayerListener)
    spark.listenerManager.register(new CatalystListener)
  }

  /** Tag the Spark jobs this thread submits with the op id. */
  def tagOp(spark: SparkSession, op: Long): Unit =
    spark.sparkContext.setLocalProperty(SparkLayerListener.OpKey, op.toString)
}
