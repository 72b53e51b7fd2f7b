package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.versioned.GraftRepo

/** The fixture is built `n` times into fresh repos; `setup_s` is the
  * median build time and the last build is the one measured. */
object Setup {
  def repeat[A](res: Results, n: Int)(build: Int => A): A = {
    res.info("t.setup_start_s") = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val times = (0 until n).map { i =>
      val t0 = System.nanoTime()
      val a = build(i)
      ((System.nanoTime() - t0) / 1e9, a)
    }
    res.info("setup_s_all") = times.map(t => f"${t._1}%.3f").mkString("[", ",", "]")
    res.put("setup_s", Stats.median(times.map(_._1)), "s")
    times.last._2
  }
}

/** How long the measured loop runs: untraced, whole units (rounds) while
  * the next one, at the mean length so far, still ends within
  * `--seconds` (the first always runs); traced, a fixed number of units,
  * so two traced runs of one seed do exactly the same work and their
  * counters can be diffed. */
final class Budget(a: Args, tracedUnits: Int) {
  private val t0 = System.nanoTime()
  private var units = 0
  def more(): Boolean =
    if (a.trace) units < tracedUnits
    else units == 0 || elapsedS * (units + 1) / units <= a.seconds
  def unit(): Unit = units += 1
  def elapsedS: Double = (System.nanoTime() - t0) / 1e9
  def count: Int = units
}

/** Run-start state, so the run end can report what the run changed. */
final class Measured private (res: Results, root: Path, filesAtStart: Set[String],
    gcMs0: Long, gcCount0: Long, liveAtStart: Set[String], chunks0: Report.Counts) {
  var elapsedS: Double = 0.0

  def end(b: Budget, repo: GraftRepo): Measured = {
    elapsedS = b.elapsedS
    res.info("measured_s") = elapsedS
    res.info("work_units") = b.count
    res.put("jvm.gc_ms", (Jvm.gcMs - gcMs0).toDouble, "ms")
    res.put("jvm.gc_count", (Jvm.gcCount - gcCount0).toDouble, "count")
    res.put("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB")
    Report.layers(res, chunks0)
    storage(repo)
    this
  }

  private def storage(repo: GraftRepo): Unit = {
    val st = Storage.walk(root)
    val (liveN, liveBytes, livePaths) = Measured.liveFilesAndBytes(repo.root)
    val endFiles = Storage.files(root)
    val gained = endFiles -- filesAtStart
    val gainedBytes = gained.iterator.map(p => try Files.size(Path.of(p)) catch { case _: Exception => 0L }).sum
    val gainedMeta = gained.count(p => !Storage.isData(Path.of(p)))
    val newLive = (livePaths -- liveAtStart).iterator
      .map(p => try Files.size(repo.root.resolve(p)) catch { case _: Exception => 0L }).sum
    res.put("storage.data_bytes", st.dataBytes.toDouble, "bytes")
    res.put("storage.meta_bytes", st.metaBytes.toDouble, "bytes")
    res.put("storage.objects", st.objects.toDouble, "count")
    res.put("storage.live_files", liveN.toDouble, "count")
    res.put("storage.live_bytes", liveBytes.toDouble, "bytes")
    res.put("storage.write_amp", if (newLive > 0) gainedBytes.toDouble / newLive else 0.0, "ratio")
    res.put("space_amp", if (liveBytes > 0) st.total.toDouble / liveBytes else 0.0, "ratio")
    res.put("storage.meta_objects_gained", gainedMeta.toDouble, "count")
  }
}

object Measured {
  def begin(res: Results, root: Path): Measured = {
    res.info("t.measure_start_s") = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val live = liveFilesAndBytes(root)._3
    val files = Storage.files(root)
    // every run starts measuring from a collected heap, not from
    // whatever garbage its set-up left behind
    System.gc()
    Jvm.resetPeaks()
    // set-up and warm-up events still queued on Spark's listener bus
    // would otherwise be counted as the measured run's
    SparkSession.getActiveSession.foreach(s => org.apache.spark.perfbench.Drain.listeners(s.sparkContext))
    Trace.reset()
    Bench.own = Report.Counts(0L, 0L, 0L)
    new Measured(res, root, files, Jvm.gcMs, Jvm.gcCount, live, Report.counts())
  }

  /** Data files live in `main` (all tables): count, bytes, paths. Read
    * through an undecorated repo, so the benchmark's own inspection is
    * not counted as the program's metadata IO. */
  def liveFilesAndBytes(root: Path): (Long, Long, Set[String]) = Bench.inspect {
    val repo = GraftRepo.open(root)
    val head = repo.headCommit("main")
    val snaps = head.tables.values.toSeq.distinct.map(repo.snapshot)
    val count = snaps.map(_.files.length.toLong).sum
    // past a million entries (synthetic metadata) only the count is read
    if (count > 1000000L) (count, 0L, Set.empty[String])
    else {
      val paths = snaps.flatMap(_.files)
      // snapshot JSON may decode `bytes` as a boxed Integer
      val bytes = paths.map(f => (f.bytes: Option[Any]).collect { case n: java.lang.Number => n.longValue }
        .getOrElse(try Files.size(repo.root.resolve(f.path)) catch { case _: Exception => 0L })).sum
      (count, bytes, paths.map(_.path).toSet)
    }
  }

  def liveFiles(repo: GraftRepo): (Long, Long) = {
    val (n, b, _) = liveFilesAndBytes(repo.root); (n, b)
  }
}
