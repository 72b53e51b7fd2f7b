package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable

import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.versioned.{FileEntry, GraftRepo, Manifests, PartitionField, TableOps, Trees}

/** `meta_scale`: the metadata layer alone, no SparkSession. The fixture
  * is a table of synthetic [[FileEntry]]s (more than the manifest chunk
  * cache holds) in clustered identity partitions, beside a
  * tree-segmented commit of thousands of small tables. Each round runs
  * two 100-file append commits, cold resolves with a partition-pruned
  * plan, a branch → append → three-way merge and a diff. */
object MetaScale {
  private val schema = StructType(Seq(StructField("id", IntegerType), StructField("cat", StringType)))
  private val spec = Some(Seq(PartitionField("cat", "identity", "cat")))
  private val Big = "db/big"

  private def entry(i: Long, part: Int): FileEntry =
    FileEntry(f"data/f$i%08d.parquet", rows = 100L, min = Map.empty, max = Map.empty,
      partitionValues = Some(Map("cat" -> s"c$part")), bytes = Some(1L << 20), seq = Some(1L))

  private def api[A](name: String)(f: => A): A = Trace.span("versioned.api", name)(f)

  def run(a: Args, res: Results, catRoot: Path): Measured = {
    val nFiles = if (a.tiny) 40000 else 1500000
    val nTables = if (a.tiny) 600 else 10000
    val parts = 1024
    val perPart = nFiles / parts
    // generator's partition map: files per partition, appends included
    val partCount = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    def partOf(i: Int): Int = math.min(parts - 1, i / perPart)
    (0 until parts).foreach(p => partCount(p) = 0L)
    (0 until nFiles).foreach(i => partCount(partOf(i)) += 1)
    val schemaJson = schema.json

    def build(i: Int): GraftRepo = {
      val repo = GraftRepo.init(catRoot.resolve(s"ms$i"), BenchIO.io)
      val big = repo.writeSnapshot(Big, schemaJson,
        (0 until nFiles).map(j => entry(j.toLong, partOf(j))), spec)
      val small = repo.writeSnapshot("db/shared", schemaJson, Nil)
      val tables = (0 until nTables).map(t => f"db/t$t%05d" -> small.id).toMap + (Big -> big.id)
      repo.commitRetry("main", "bulk load") { base => (tables, base.namespaces) }
      repo.createTag("loaded", "main")
      repo
    }
    res.info("meta.files") = nFiles
    res.info("meta.tables") = nTables
    res.info("meta.manifest_cache_entries") = java.lang.Long.getLong("graft.manifest.cache.entries", 1000000L)
    val repo = Setup.repeat(res, if (a.tiny) 2 else 3) { i =>
      if (i > 0) deleteTree(catRoot.resolve(s"ms${i - 1}"))
      Manifests.clearCache(); Trees.clearCache()
      build(i)
    }
    val rnd = Data.rng(a.seed, 21L)
    var nextFile = nFiles.toLong
    var planted = a.plantWrong
    val changedSince = mutable.Set(Big)
    var bigCount = nFiles.toLong

    def append(branch: String, key: String, n: Int, part: Int): Unit = {
      repo.commitRetry(branch, s"append $n") { base =>
        val snap = repo.snapshot(base.tables(key))
        val delta = (0 until n).map(j => entry(nextFile + j, part))
        val s = repo.writeSnapshot(key, snap.schemaJson, Manifests.appended(snap.files, delta),
          snap.partitionBy)
        (base.tables + (key -> s.id), base.namespaces)
      }
      nextFile += n
    }

    // the checks read through an undecorated repo: not the program's IO
    val plain = GraftRepo.open(repo.root)
    def bigFiles(): Long = Bench.inspect(plain.snapshot(plain.headCommit("main").tables(Big)).files.length.toLong)
    val loadedTables = Bench.inspect(plain.resolve("loaded").tables)
    var out = new Results
    var round = 0
    def oneRound(): Unit = {
      // two appends to the big table, each into one random partition
      (0 until 2).foreach { _ =>
        val p = rnd.nextInt(parts)
        out.run(None, "append")(api("commit")(append("main", Big, 100, p))) { _ =>
          partCount(p) += 100; bigCount += 100
          bigFiles() == bigCount
        }
      }
      // cold resolves of random tables, each with a partition-pruned plan
      (0 until 6).foreach { _ =>
        val p = rnd.nextInt(parts)
        val key = f"db/t${rnd.nextInt(nTables)}%05d"
        out.run(None, "resolve_prune") {
          Trees.clearCache()
          val head = api("resolve")(repo.headCommit("main"))
          val small = head.tables.get(key)
          val snap = api("resolve")(repo.snapshot(head.tables(Big)))
          val kept = api("pruneFiles")(TableOps.pruneFiles(snap, schema, Seq(sources.EqualTo("cat", s"c$p"))))
          Trace.count("bench.prune_kept", kept.size.toLong)
          Trace.count("bench.prune_total", snap.files.length.toLong)
          (small.isDefined, kept.size.toLong)
        } { case (found, n) =>
          val want = if (planted) { planted = false; partCount(p) + 1 } else partCount(p)
          found && n == want
        }
      }
      // branch, append on the branch, append on main, three-way merge
      val b = s"br$round"
      val key = f"db/t${rnd.nextInt(nTables)}%05d"
      out.run(None, "branch")(api("createBranch")(repo.createBranch(b, "main")))(_ => true)
      out.run(None, "append")(api("commit")(append(b, key, 100, 0)))(_ => true)
      val p = rnd.nextInt(parts)
      out.run(None, "append")(api("commit")(append("main", Big, 100, p))) { _ =>
        partCount(p) += 100; bigCount += 100; true
      }
      out.run(None, "merge")(api("merge")(repo.merge(b, "main"))) { c =>
        c.parents.size == 2 && c.tables.get(key).exists(_ != loadedTables(key))
      }
      changedSince += key
      out.run(None, "branch")(api("dropBranch")(repo.dropBranch(b)))(_ => true)
      // diff against the loaded fixture: exactly the tables changed since
      out.run(None, "diff")(api("diff")(repo.diff("loaded", "main")))(d =>
        d.keySet == changedSince.toSet && d.values.forall(_ == "changed"))
      round += 1
    }
    // warm-up round, not measured
    oneRound()
    res.absorbFailures(out)
    out = res
    val start = Measured.begin(res, repo.root)
    val budget = new Budget(a, if (a.tiny) 2 else 3)
    while (budget.more()) {
      oneRound()
      budget.unit()
    }
    res.info("rounds") = budget.count
    start.end(budget, repo)
  }

  private def deleteTree(p: Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
}
