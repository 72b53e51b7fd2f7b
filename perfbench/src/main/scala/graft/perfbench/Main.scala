package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.versioned.{GraftRepo, Manifests, Trees}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --report <file>` (plus `--size tiny` and
  * `--plant-wrong 1` for the self-test). Writes every metric it measured,
  * with its unit, to the report file as JSON; `perfbench/run.py` builds
  * this program and selects the metrics `BENCHMARK.json` names. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Trace.on = a.trace
    Files.createDirectories(a.work)
    val res = new Results
    res.info("workload") = a.workload
    res.info("seed") = a.seed
    res.info("trace") = a.trace
    Host.markers(res, "before")
    val catRoot = a.work.resolve("warehouse")
    Files.createDirectories(catRoot)
    val needsSpark = a.workload != "meta_scale"
    res.info("t.jvm_start_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val spark = if (needsSpark) Some(Session.create(a, catRoot)) else None
    res.info("t.session_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    try {
      val m = a.workload match {
        case "branch_dml" => BranchDml.run(a, res, spark.get, catRoot)
        case "ref_read" => RefRead.run(a, res, spark.get, catRoot)
        case "meta_scale" => MetaScale.run(a, res, catRoot)
        case "rest_commit" => RestCommit.run(a, res, spark.get, catRoot)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      res.info("t.measured_end_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
      Report.endToEnd(res, m)
      res.put("heap_used_mb", Jvm.heapUsedAfterGcMb(), "MB")
      if (a.trace) {
        Trace.dump(a.work.resolve("spans.jsonl"))
        res.info("trace.spans") = Trace.allSpans.size
      }
    } finally spark.foreach(_.stop())
    Host.markers(res, "after")
    res.info("t.end_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    Report.write(res, a.report)
    Report.print(res)
  }
}

object Report {
  /** The library's own process-wide read counters. */
  final case class Counts(manifestChunks: Long, treeChunks: Long, commits: Long)
  def counts(): Counts =
    Counts(Manifests.chunkReadCount, Trees.chunkReadCount, GraftRepo.commitReadCount)

  /** Medians (with sample counts) and p90 where at least ten samples lie
    * beyond it, for each op class; then the headline metrics. */
  def endToEnd(res: Results, m: Measured): Unit = {
    res.samples.foreach { case (cls, xs) =>
      res.put(s"$cls.p50_ms", Stats.median(xs.toSeq), "ms")
      res.info(s"$cls.samples") = xs.size
      if (xs.size >= 100) res.put(s"$cls.p90_ms", Stats.quantile(xs.toSeq, 0.9), "ms")
    }
    res.put("ops_per_s", res.completed / math.max(1e-9, m.elapsedS), "op/s")
    res.put("fail_ratio", if (res.attempted == 0) 0.0 else res.failed.toDouble / res.attempted, "ratio")
    def alias(name: String, cls: String): Unit =
      res.metrics.get(s"$cls.p50_ms").foreach(v => res.put(name, v._1, "ms"))
    val (op, read) = res.info("workload") match {
      case "branch_dml" => ("dml", "read")
      case "ref_read" => ("select", "ref_select")
      case "meta_scale" => ("append", "resolve_prune")
      case _ => ("commit", "load")
    }
    alias("op_p50_ms", op); alias("read_p50_ms", read)
    if (op != "select") alias("write_p50_ms", op)
    def p90(name: String, cls: String): Unit =
      res.metrics.get(s"$cls.p90_ms").foreach(v => res.put(name, v._1, "ms"))
    p90("op_p90_ms", op); p90("read_p90_ms", read)
    if (op != "select") p90("write_p90_ms", op)
    alias("merge_p50_ms", "merge")
    alias("ann_probe_p50_ms", "ann_probe")
    alias("ann_append_p50_ms", "ann_append")
  }

  /** Per-layer metrics, from the traced run's spans and counters. */
  def layers(res: Results, c0: Counts): Unit = {
    if (!Trace.on) return
    if (SparkSession.getActiveSession.isDefined)
      org.apache.spark.perfbench.Drain.listeners(SparkSession.active.sparkContext)
    val c = counts()
    def cnt(n: String, u: String = "count"): Unit = res.put(n, Trace.counter(n).toDouble, u)
    res.put("catalyst.analysis_ms", Trace.counter("catalyst.analysis_ms").toDouble, "ms")
    res.put("catalyst.optimization_ms", Trace.counter("catalyst.optimization_ms").toDouble, "ms")
    res.put("catalyst.planning_ms", Trace.counter("catalyst.planning_ms").toDouble, "ms")
    cnt("catalog.load_table_calls")
    res.put("catalog.load_table_ms", Trace.layerMs("catalog", "loadTable"), "ms")
    res.put("catalog.namespace_ms", Trace.layerMs("catalog", "namespace"), "ms")
    Seq("spark.jobs", "spark.stages", "spark.tasks").foreach(cnt(_))
    res.put("spark.job_ms", Trace.busyMs("spark"), "ms")
    res.put("spark.scheduler_delay_ms", Trace.counter("spark.scheduler_delay_ms").toDouble, "ms")
    res.put("spark.task_cpu_ms", Trace.counter("spark.task_cpu_ns") / 1e6, "ms")
    Seq("spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes").foreach(cnt(_, "bytes"))
    res.put("spark.gc_ms", Trace.counter("spark.gc_ms").toDouble, "ms")
    val returned = Trace.counter("bench.rows_returned")
    res.put("spark.rows_read_per_row_returned",
      if (returned > 0) Trace.counter("spark.rows_read").toDouble / returned else 0.0, "ratio")
    Seq("versioned.io.reads", "versioned.io.writes", "versioned.io.lists", "versioned.cas_lost").foreach(cnt(_))
    Seq("versioned.io.read_bytes", "versioned.io.write_bytes").foreach(cnt(_, "bytes"))
    res.put("versioned.io.ms", Trace.layerMs("versioned.io"), "ms")
    res.put("versioned.manifest_chunk_reads", (c.manifestChunks - c0.manifestChunks - Bench.own.manifestChunks).toDouble, "count")
    res.put("versioned.tree_chunk_reads", (c.treeChunks - c0.treeChunks - Bench.own.treeChunks).toDouble, "count")
    res.put("versioned.commit_reads", (c.commits - c0.commits - Bench.own.commits).toDouble, "count")
    val kept = Trace.counter("bench.prune_kept"); val cand = Trace.counter("bench.prune_total")
    res.put("versioned.prune_kept_ratio", if (cand > 0) kept.toDouble / cand else 0.0, "ratio")
    res.put("versioned.branch_ms", Trace.layerMs("versioned.api", "createBranch") +
      Trace.layerMs("versioned.api", "dropBranch"), "ms")
    res.put("versioned.merge_ms", Trace.layerMs("versioned.api", "merge"), "ms")
    res.put("versioned.compact_ms", Trace.layerMs("versioned.api", "compact"), "ms")
    res.put("operators.ann_probe_ms", Trace.layerMs("operators", "annIndexProbe"), "ms")
    res.put("operators.ann_append_ms", Trace.layerMs("operators", "annIndexAppend"), "ms")
    res.put("operators.ann_probe_jobs", Trace.counter("spark.jobs.ann_probe").toDouble, "count")
    res.put("operators.ann_append_jobs", Trace.counter("spark.jobs.ann_append").toDouble, "count")
    val hits = Trace.counter("bench.ann_hits"); val truth = Trace.counter("bench.ann_truth")
    res.put("operators.ann_recall", if (truth > 0) hits.toDouble / truth else 0.0, "ratio")
    res.put("rest.load_ms", Trace.layerMs("rest", "load"), "ms")
    res.put("rest.commit_ms", Trace.layerMs("rest", "commit"), "ms")
    cnt("rest.commit_attempts"); cnt("rest.conflicts"); cnt("rest.errors")
    val att = Trace.counter("rest.commit_attempts")
    res.put("rest.commit_success_ratio",
      if (att > 0) Trace.counter("rest.commits_won").toDouble / att else 0.0, "ratio")
    cnt("rest.export_objects_written")
    res.put("driver.other_ms", Trace.driverOtherMs(), "ms")
    Trace.selfMsByLayer().foreach { case (l, ms) => res.info(s"self_ms.$l") = ms }
    // per op class: the counters an optimisation would move
    Trace.allOps.groupBy(_.cls).foreach { case (cls, os) =>
      res.info(s"ops.$cls") = os.size
      res.info(s"jobs.$cls") = Trace.counter(s"spark.jobs.$cls")
      res.info(s"tasks.$cls") = Trace.counter(s"spark.tasks.$cls")
    }
  }

  private def jsonValue(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s => "\"" + s.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  }

  def write(res: Results, out: Path): Unit = {
    val metrics = res.metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${jsonValue(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val info = res.info.map { case (k, v) => s""""$k":${jsonValue(v)}""" }.mkString("{", ",", "}")
    val fails = res.failures.map(f => jsonValue(f)).mkString("[", ",", "]")
    Files.createDirectories(out.toAbsolutePath.getParent)
    Files.writeString(out,
      s"""{"correct":${res.failed == 0},"attempted":${res.attempted},"failed":${res.failed},""" +
        s""""metrics":$metrics,"info":$info,"failures":$fails}""")
  }

  def print(res: Results): Unit = {
    res.metrics.foreach { case (k, (v, u)) => println(f"[perfbench] $k%-40s $v%.4f $u") }
    res.info.foreach { case (k, v) => println(s"[perfbench] $k = $v") }
    res.failures.foreach(f => println(s"[perfbench] FAILED $f"))
  }
}

/** Work the benchmark itself caused in the library's process-wide
  * counters (its own inspection of a repo), subtracted from the run. */
object Bench {
  @volatile var own: Report.Counts = Report.Counts(0L, 0L, 0L)
  def inspect[A](f: => A): A = {
    val c0 = Report.counts()
    try f
    finally {
      val c1 = Report.counts()
      synchronized {
        own = Report.Counts(own.manifestChunks + c1.manifestChunks - c0.manifestChunks,
          own.treeChunks + c1.treeChunks - c0.treeChunks, own.commits + c1.commits - c0.commits)
      }
    }
  }
}
