package graft.versioned

import java.nio.file.Path
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** Data-plane operations on graft tables: snapshot reads with stats-based
  * file pruning, append/overwrite writes, and copy-on-write DELETE that
  * rewrites only the files whose min/max stats admit matching rows — the
  * 100 TB posture: a selective DELETE touches a handful of files, never
  * the whole table (the same effect Iceberg gets from manifest stats).
  */
object TableOps {

  /** Columns we keep min/max stats for (orderable atomic types). */
  private[graft] def statable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | BooleanType => true
    case TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Statable LEAF columns of a schema, dot-joined parquet paths: every
    * top-level statable primitive plus primitives reachable through
    * STRUCT nesting ("meta.author"). Array/map interiors are excluded —
    * their parquet leaves repeat per element, so row-level min/max
    * pruning semantics don't hold for the filters the engine pushes.
    */
  private[graft] def statableLeaves(schema: StructType): Seq[(String, DataType)] = {
    def walk(prefix: Seq[String], dt: DataType): Seq[(String, DataType)] = dt match {
      case s: StructType =>
        s.fields.toSeq.flatMap(f => walk(prefix :+ f.name, f.dataType))
      case other if prefix.nonEmpty && statable(other) =>
        Seq((prefix.mkString("."), other))
      case _ => Nil
    }
    walk(Nil, schema)
  }

  /** Columns the footer-stat decode visits: every top-level field (the
    * historical set — non-statable types like binary still contribute
    * null counts) plus struct-nested statable leaves.
    */
  private[graft] def statLeafColumns(schema: StructType): Seq[(String, DataType)] =
    schema.fields.toSeq.map(f => (f.name, f.dataType)) ++
      statableLeaves(schema).filter { case (p, _) =>
        p.contains('.') && !schema.fieldNames.contains(p) }

  /** Resolve a (possibly dotted) pushed-filter attribute to its field
    * type: exact top-level match first (column names may legitimately
    * contain dots), then a struct walk along the dotted path. None →
    * unknown shape, caller keeps the file.
    */
  /** [[leafField]] for paths known to exist (write-side stat keys). */
  private[graft] def leafType(schema: StructType, path: String): DataType =
    leafField(schema, path).getOrElse(throw new IllegalStateException(
      s"no such stat column: $path"))

  private[graft] def leafField(schema: StructType, attr: String): Option[DataType] =
    schema.fields.find(_.name == attr).map(_.dataType).orElse {
      val parts = attr.split('.')
      if (parts.length < 2) None
      else parts.foldLeft(Option(schema: DataType)) {
        case (Some(s: StructType), p) => s.fields.find(_.name == p).map(_.dataType)
        case _ => None
      }
    }

  /** Per-file long-valued stats (null counts / NDVs) out of one stats
    * row, keyed `<prefix>:<col>` — shared by both write-side stat
    * collection passes.
    */
  private def longStatsOf(r: Row, leaves: Seq[(String, DataType)],
      prefix: String): Map[String, Long] =
    leaves.flatMap { case (n, _) =>
      Option(r.getAs[Any](s"$prefix:$n"))
        .map(v => n -> v.asInstanceOf[Number].longValue())
    }.toMap

  /** Stat targets for the data-scan stats pass (bloom tables): every
    * top-level statable field PLUS struct-nested leaves — the same set
    * the footer pass records, so a bloom opt-in never silently costs
    * nested-column pruning or exported nested bounds.
    */
  private def scanStatLeaves(schema: StructType): Seq[(String, DataType)] =
    schema.fields.toSeq.filter(f => statable(f.dataType))
      .map(f => (f.name, f.dataType)) ++
      statableLeaves(schema).filter { case (p, _) =>
        p.contains('.') && !schema.fieldNames.contains(p) }

  // ---- logical <-> physical column names (RENAME COLUMN support) -------

  /** Schema with logical names replaced by their physical (as-written)
    * names; types stay logical (possibly widened — the parquet readers
    * upcast int->long / float->double on the fly).
    */
  /** Logical → physical schema. Mapping keys are DOTTED LOGICAL PATHS
    * ("col", "s.member", "arr.element.x", "m.value.y"); each value is
    * the physical name of THAT field alone. Flat maps
    * (pre-nested-ALTER snapshots) are the degenerate case: top-level
    * paths have no dots. Structs recurse on member names; array/map
    * containers recurse through the `element` / `key` / `value` path
    * segments (the spelling ALTER paths use — container steps
    * themselves are never renamed).
    */
  def toPhysical(schema: StructType, m: Map[String, String]): StructType = {
    if (m.isEmpty) return schema
    def walkDt(dt: DataType, prefix: String): DataType = dt match {
      case s: StructType => walk(s, prefix)
      case a: ArrayType =>
        a.copy(elementType = walkDt(a.elementType, prefix + "element."))
      case mt: MapType =>
        mt.copy(keyType = walkDt(mt.keyType, prefix + "key."),
          valueType = walkDt(mt.valueType, prefix + "value."))
      case other => other
    }
    def walk(st: StructType, prefix: String): StructType =
      StructType(st.fields.map { f =>
        val path = prefix + f.name
        f.copy(name = m.getOrElse(path, f.name),
          dataType = walkDt(f.dataType, path + "."))
      })
    walk(schema, "")
  }

  /** Rewrite a v1 filter's attribute references logical -> physical (for
    * pushing into the parquet reader after renames).
    */
  def renameFilter(f: sources.Filter, m: Map[String, String]): sources.Filter = {
    if (m.isEmpty) return f
    // dotted attr (nested-field pushdown): map every segment through its
    // logical-path key ("s" then "s.b" then "s.b.c") so nested renames
    // push down under their physical names; a whole-attr hit wins (a
    // top-level column whose name happens to contain a dot)
    def p(a: String): String = m.getOrElse(a, {
      val parts = a.split('.')
      if (parts.length < 2) a
      else parts.indices.map { i =>
        m.getOrElse(parts.take(i + 1).mkString("."), parts(i))
      }.mkString(".")
    })
    f match {
      case sources.EqualTo(a, v) => sources.EqualTo(p(a), v)
      case sources.EqualNullSafe(a, v) => sources.EqualNullSafe(p(a), v)
      case sources.GreaterThan(a, v) => sources.GreaterThan(p(a), v)
      case sources.GreaterThanOrEqual(a, v) => sources.GreaterThanOrEqual(p(a), v)
      case sources.LessThan(a, v) => sources.LessThan(p(a), v)
      case sources.LessThanOrEqual(a, v) => sources.LessThanOrEqual(p(a), v)
      case sources.In(a, vs) => sources.In(p(a), vs)
      case sources.IsNull(a) => sources.IsNull(p(a))
      case sources.IsNotNull(a) => sources.IsNotNull(p(a))
      case sources.StringStartsWith(a, v) => sources.StringStartsWith(p(a), v)
      case sources.StringEndsWith(a, v) => sources.StringEndsWith(p(a), v)
      case sources.StringContains(a, v) => sources.StringContains(p(a), v)
      case sources.Not(c) => sources.Not(renameFilter(c, m))
      case sources.And(l, r) => sources.And(renameFilter(l, m), renameFilter(r, m))
      case sources.Or(l, r) => sources.Or(renameFilter(l, m), renameFilter(r, m))
      case other => other
    }
  }

  // ---- write -----------------------------------------------------------

  /** Stage each table of a multi-table commit on its own driver thread,
    * preserving input order (atomicAppend / atomicReplace tables, REST
    * transaction members). The per-table write jobs are independent
    * (writeFiles lands each table under its own UUID dir and reads its
    * own session clone for conf overrides), and Spark happily runs
    * several jobs at once — staging them sequentially left the cluster
    * idle through each small table's job-submission + footer-read
    * latency (an ANN index init commits SIX tables, five of them
    * model-sized). 2-3 jobs in flight is plenty (guide §2.6): enough to
    * fill the tail, not so many that they fight for executors. Failures
    * propagate exactly as before — the first staging exception aborts
    * the commit before anything is published (already-written files are
    * orphans until vacuum, the same contract as a sequential partial
    * failure).
    */
  private[versioned] def stageConcurrently[T, A](items: Seq[T])(
      stage: T => A): Seq[A] =
    if (items.size <= 1) items.map(stage)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(items.size, 3))
      try {
        val futures = items.map(t =>
          pool.submit(new java.util.concurrent.Callable[A] {
            override def call(): A = stage(t)
          }))
        futures.map(f =>
          try f.get()
          catch {
            // surface the staging failure itself, not the wrapper —
            // after CANCELLING the sibling stages and waiting briefly
            // for quiescence: the commit throws pre-publish either way
            // (orphans until vacuum), but a caller that cleans up its
            // scratch root on failure must not race still-running
            // background writes
            case e: java.util.concurrent.ExecutionException =>
              futures.foreach(_.cancel(true))
              pool.shutdownNow()
              pool.awaitTermination(30,
                java.util.concurrent.TimeUnit.SECONDS)
              throw Option(e.getCause).getOrElse(e)
          })
      } finally pool.shutdown()
    }

  /** Write `df` as immutable parquet files under
    * `data/<db>/<table>/<uuid>/` and return FileEntry metadata with
    * per-file row counts and min/max column stats (collected in ONE scan
    * of the freshly written files, grouped by input_file_name). The
    * per-table directory keeps a stable glob per table, which is what
    * makes [[readStreamAppends]] possible.
    *
    * With a partition `spec`, rows land in hive-style
    * `__p_<field>=<value>` directories (synthetic transform columns, so
    * every DATA column — including identity sources — stays inside the
    * files) and each FileEntry records its partition values for
    * partition-first pruning.
    */
  def writeFiles(spark: SparkSession, repo: GraftRepo, df: DataFrame,
      key: String = "adhoc", spec: Seq[PartitionField] = Nil,
      physicalNames: Map[String, String] = Map.empty,
      preserveLayout: Boolean = false,
      bloomCols: Seq[String] = Nil,
      bloomItems: Long = Blooms.DefaultItems,
      ndvHint: Map[String, Long] = Map.empty): Seq[FileEntry] = {
    // files are ALWAYS written (and stats keyed) under physical names —
    // the invariant that keeps renames metadata-only
    val logical = df.schema
    val out =
      if (physicalNames.isEmpty) df
      else df.toDF(logical.fieldNames.toIndexedSeq
        .map(n => physicalNames.getOrElse(n, n)): _*)
    val schema = out.schema
    val dirRel = s"data/$key/${UUID.randomUUID().toString.replace("-", "")}"
    val dir = repo.dataLocation(dirRel)
    // bloom columns get parquet-NATIVE bloom filters too (footer-level,
    // per row group): the sidecar prunes whole FILES at plan time, the
    // parquet bloom prunes ROW GROUPS inside files the sidecar admits —
    // both fed by the same opt-in, both invisible to correctness
    def withBlooms(w: org.apache.spark.sql.DataFrameWriter[Row])
        : org.apache.spark.sql.DataFrameWriter[Row] =
      bloomCols.filter(c => schema.fields.exists(_.name == c))
        .foldLeft(w)((w2, c) => w2
          .option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$c", bloomItems.toString))
    // stats come from FOOTERS after the write (see entriesFromFooters):
    // INT96 chunks carry no statistics, so pin MICROS — via a CLONED
    // session (no shared-conf mutation; concurrent writes on one
    // session must not race on the override)
    val outM = org.apache.spark.sql.graftbridge.ParquetWriteBridge
      .withMicrosTimestamps(out)
    // DRIVER-LOCAL frames (model/metadata-sized tables: a 1-row drift
    // log, the PQ codebook, ann/meta, dd/meta…) write their single file
    // on the driver — a whole Spark job per tiny staged table was pure
    // fixed commit cost. Identical parquet encoding (Spark's own
    // ParquetWriteSupport, MICROS pinned); the footer-stats pass reads
    // the file exactly as it reads an executor-written one. Partitioned
    // or bloom-opted tables keep the cluster path (the rebalance /
    // parquet-native-bloom machinery lives there).
    val localWriteMax = spark.conf
      .getOption("spark.graft.stats.localWriteMaxRows")
      .flatMap(_.toIntOption).filter(_ >= 0).getOrElse(10000)
    val localRows =
      if (spec.nonEmpty ||
        bloomCols.exists(c => schema.fields.exists(_.name == c))) None
      else org.apache.spark.sql.graftbridge.ParquetWriteBridge
        .localRows(out, localWriteMax)
    if (localRows.isDefined) {
      val (sch, rows) = localRows.get
      org.apache.spark.sql.graftbridge.ParquetWriteBridge.writeLocalFile(
        spark, s"$dir/part-00000-${UUID.randomUUID()}.parquet", sch, rows)
    } else if (spec.isEmpty) withBlooms(outM.write).parquet(dir)
    else {
      val dirCols = spec.map { pf =>
        val srcType = logical.fields.find(_.name == pf.source).map(_.dataType)
          .getOrElse(throw new IllegalArgumentException(
            s"partition source column not in write schema: ${pf.source}"))
        Partitioning.partitionColumn(pf, srcType, physicalNames)
          .as(Partitioning.dirColName(pf))
      }
      // cluster rows by partition value BEFORE the write: without this,
      // EVERY task writes a file into EVERY partition value it happens to
      // hold (tasks × values files per insert — the small-files explosion
      // at scale). The clustering is a REBALANCE (AQE-managed) shuffle,
      // not a plain repartition: plain hash-by-value pins each partition
      // value to ONE task, so a hot value (the skew case at 100 TB — one
      // day holding half the ingest) funnels through a single core into
      // one giant file. Rebalance lets AQE split oversized value groups
      // into several advisory-sized files AND coalesce small ones — the
    // same request Iceberg spells write.distribution-mode=hash +
      // advisory partitioning. Without AQE it degrades to the plain
      // keyed shuffle (correct, just unsplit). `preserveLayout` skips
      // the shuffle: compaction feeds data it has ALREADY
      // range-partitioned + sorted (all rows of a rewrite unit share one
      // partition value, so the clustering shuffle would collapse them
      // into one task and destroy the sort).
      val projected = outM.select(
        schema.fieldNames.toIndexedSeq.map(col) ++ dirCols: _*)
      val laid =
        if (preserveLayout) projected
        else projected.hint("rebalance",
          spec.map(pf => col(Partitioning.dirColName(pf))): _*)
      withBlooms(laid.write).partitionBy(spec.map(Partitioning.dirColName): _*)
        .parquet(dir)
    }
    val paths = repo.dataIO.walkFiles(dirRel)
      .filter(_.endsWith(".parquet"))
      .map(repo.dataLocation)
    val blooms = bloomCols.filter(c => schema.fields.exists(_.name == c))
    if (blooms.isEmpty)
      // SINGLE-PASS stats: the parquet writer already computed
      // min/max/nulls/rows — read the FOOTERS, not the data
      entriesFromFooters(spark, repo, paths, schema, spec, ndvHint)
    else {
      // bloom tables: sidecar builds genuinely need the values, so
      // rows/min/max/nulls/NDV/blooms all ride ONE scan of the files
      val written = spark.read.schema(schema).parquet(paths: _*)
      val leaves = scanStatLeaves(schema)
      val statCols = leaves.flatMap { case (n, _) =>
        Seq(min(col(n)).cast("string").as(s"min:$n"),
          max(col(n)).cast("string").as(s"max:$n"),
          sum(isnull(col(n)).cast("long")).as(s"nulls:$n"),
          approx_count_distinct(col(n)).as(s"ndv:$n"))
      }
      val bloomAggs = blooms.map(c =>
        Blooms.aggColumn(c, schema.fields.find(_.name == c).get.dataType,
          bloomItems).as(s"bloom:$c"))
      val rows = written
        .groupBy(input_file_name().as("__file"))
        .agg(count(lit(1)).as("__rows"), (statCols.toIndexedSeq ++ bloomAggs): _*)
        .collect()
      rows.toIndexedSeq.map { r =>
        val rel = repo.dataRelOf(r.getAs[String]("__file"))
        def stats(prefix: String): Map[String, String] =
          leaves.flatMap { case (n, _) =>
            Option(r.getAs[String](s"$prefix:$n")).map(n -> _)
          }.toMap
        val pvals =
          if (spec.isEmpty) None else Some(Partitioning.valuesFromPath(rel))
        val sidecar = blooms.flatMap(c =>
          Option(r.getAs[Array[Byte]](s"bloom:$c")).map(c -> _)).toMap
        if (sidecar.nonEmpty) Blooms.write(repo.dataIO, rel, sidecar)
        FileEntry(rel, r.getAs[Long]("__rows"), stats("min"), stats("max"), pvals,
          Some(repo.dataIO.size(rel)),
          bloomCols = if (sidecar.isEmpty) None else Some(sidecar.keys.toSeq.sorted),
          nulls = Some(longStatsOf(r, leaves, "nulls")),
          ndv = Some(longStatsOf(r, leaves, "ndv")))
      }
    }
  }

  /** FileEntries from parquet FOOTERS — the zero-data-read stats pass
    * shared by every non-bloom write (the native DSv2 writes collect
    * these executor-side during the write itself; this variant serves
    * the DataFrame-writer paths: compaction, CoW staging, MV/stream
    * helpers). Footer reads distribute across the cluster — the driver
    * only renders. NDV (no footer equivalent) comes from `ndvHint`
    * (e.g. compaction passes its INPUT files' merged NDV) apportioned
    * per file by row share; absent a hint the entries carry no NDV and
    * CBO extrapolates from whatever files still have one.
    */
  def entriesFromFooters(spark: SparkSession, repo: GraftRepo,
      paths: Seq[String], schema: StructType, spec: Seq[PartitionField],
      ndvHint: Map[String, Long] = Map.empty): Seq[FileEntry] = {
    if (paths.isEmpty) return Nil
    // SMALL commits read footers on the DRIVER's IO pool — a footer is
    // a few KB of metadata, and spinning a whole Spark job (submit +
    // schedule + collect) to read a handful of them was a fixed
    // ~100 ms tax on EVERY staged table of every commit (an ANN init
    // stages six). Past the threshold the read distributes exactly as
    // before — a 100 TB compaction's thousands of footers are real
    // parallel I/O, not job overhead.
    val localMax = spark.conf.getOption("spark.graft.stats.localFooterMax")
      .flatMap(_.toIntOption).filter(_ >= 0).getOrElse(64)
    val hconf = spark.sparkContext.hadoopConfiguration
    val raw: IndexedSeq[FooterStats.WrittenFile] =
      if (paths.size <= localMax)
        Manifests.fanOut(paths, 2)(p =>
          FooterStats.read(p, hconf, schema, Map.empty)).toIndexedSeq
      else {
        val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
        val slices = math.max(1, math.min(paths.size, 64))
        spark.sparkContext.parallelize(paths, slices)
          .map(p => FooterStats.read(p, conf.value, schema, Map.empty))
          .collect().toIndexedSeq
      }
    val totalRows = math.max(1L, raw.map(_.rows).sum)
    raw.map { wf =>
      val rel = repo.dataRelOf(wf.path)
      def render(m: Map[String, Any]): Map[String, String] =
        m.map { case (c, v) =>
          c -> FooterStats.render(v, leafType(schema, c))
        }
      val ndv =
        if (ndvHint.isEmpty) None
        else Some(ndvHint.map { case (c, n) =>
          c -> math.max(1L, math.min(wf.rows,
            math.round(n.toDouble * wf.rows / totalRows)))
        })
      FileEntry(rel, wf.rows, render(wf.mins), render(wf.maxs),
        if (spec.isEmpty) None else Some(Partitioning.valuesFromPath(rel)),
        Some(wf.bytes),
        nulls = Some(wf.nulls),
        ndv = ndv)
    }
  }

  /** Driver-side [[entriesFromFooters]] — no Spark session required
    * (fanned out over the shared IO pool instead of a parallelize job).
    * The REST catalog's commit path uses this: a catalog server
    * registering an external engine's already-written files should not
    * need a cluster to read O(new files) footers.
    */
  def entriesFromFootersLocal(repo: GraftRepo, rels: Seq[String],
      schema: StructType,
      hadoopConf: org.apache.hadoop.conf.Configuration): Seq[FileEntry] =
    Manifests.fanOut(rels, 2) { rel =>
      val wf = FooterStats.read(repo.dataLocation(rel), hadoopConf,
        schema, Map.empty)
      def render(m: Map[String, Any]): Map[String, String] =
        m.map { case (c, v) =>
          c -> FooterStats.render(v, leafType(schema, c))
        }
      FileEntry(rel, wf.rows, render(wf.mins), render(wf.maxs),
        None, Some(wf.bytes), nulls = Some(wf.nulls))
    }

  /** FileEntry metadata for an EXPLICIT list of parquet files (absolute
    * paths) — the native DSv2 layout write's commit pass (INSERT, CTAS,
    * and the CoW row-level rewrite, which all stage through
    * [[graft.catalog.GraftLayoutWrite]]). Only files named in task
    * commit messages are read, so stray output from failed/speculative
    * attempts can never leak into a snapshot. Partition values parse
    * from the hive-style path segments; bloom sidecars (when the table
    * opted in) ride the same single aggregation pass as min/max/NDV.
    */
  def statsForFiles(spark: SparkSession, repo: GraftRepo,
      paths: Seq[String], schema: StructType, spec: Seq[PartitionField],
      bloomCols: Seq[String] = Nil,
      bloomItems: Long = Blooms.DefaultItems): Seq[FileEntry] = {
    if (paths.isEmpty) return Nil
    val written = spark.read.schema(schema).parquet(paths: _*)
    val leaves = scanStatLeaves(schema)
    val statCols = leaves.flatMap { case (n, _) =>
      Seq(min(col(n)).cast("string").as(s"min:$n"),
        max(col(n)).cast("string").as(s"max:$n"),
        sum(isnull(col(n)).cast("long")).as(s"nulls:$n"),
        approx_count_distinct(col(n)).as(s"ndv:$n"))
    }
    val blooms = bloomCols.filter(c => schema.fields.exists(_.name == c))
    val bloomAggs = blooms.map(c =>
      Blooms.aggColumn(c, schema.fields.find(_.name == c).get.dataType,
        bloomItems).as(s"bloom:$c"))
    written.groupBy(input_file_name().as("__file"))
      .agg(count(lit(1)).as("__rows"), (statCols.toIndexedSeq ++ bloomAggs): _*)
      .collect().toIndexedSeq.map { r =>
        val rel = repo.dataRelOf(r.getAs[String]("__file"))
        def stats(prefix: String): Map[String, String] =
          leaves.flatMap { case (n, _) =>
            Option(r.getAs[String](s"$prefix:$n")).map(n -> _)
          }.toMap
        val pvals =
          if (spec.isEmpty) None else Some(Partitioning.valuesFromPath(rel))
        val sidecar = blooms.flatMap(c =>
          Option(r.getAs[Array[Byte]](s"bloom:$c")).map(c -> _)).toMap
        if (sidecar.nonEmpty) Blooms.write(repo.dataIO, rel, sidecar)
        FileEntry(rel, r.getAs[Long]("__rows"), stats("min"), stats("max"),
          pvals, Some(repo.dataIO.size(rel)),
          bloomCols = if (sidecar.isEmpty) None else Some(sidecar.keys.toSeq.sorted),
          nulls = Some(longStatsOf(r, leaves, "nulls")),
          ndv = Some(longStatsOf(r, leaves, "ndv")))
      }
  }

  /** Append (or overwrite) `df` into `db/table` on `branch`, committing
    * with optimistic retry.
    */
  def insert(spark: SparkSession, repo: GraftRepo, branch: String, key: String,
      df: DataFrame, overwrite: Boolean, message: Option[String] = None,
      extraProps: Map[String, String] = Map.empty): Unit = {
    // partition spec + name mapping are fixed by DDL, not by concurrent
    // DML, so reading them from the current head outside the commit race
    // is safe
    val head = repo.headCommit(branch).tables.get(key).map(repo.snapshot)
    val spec = head.map(_.partitionFields).getOrElse(Nil)
    val mapping = head.map(_.nameMapping).getOrElse(Map.empty)
    val blooms = head.map(s =>
      Blooms.physCols(s, toPhysical(
        DataType.fromJson(s.schemaJson).asInstanceOf[StructType], mapping)))
      .getOrElse(Nil)
    val newFiles = writeFiles(spark, repo, df, key, spec, mapping,
      bloomCols = blooms,
      bloomItems = head.map(Blooms.items).getOrElse(Blooms.DefaultItems))
    commitAppend(repo, branch, key, newFiles, overwrite, spec, mapping,
      df.schema.json, message, extraProps)
  }

  /** Publish already-written files as an append (or overwrite) commit —
    * the metadata half of [[insert]], shared with the native DSv2 batch
    * write (which stages its files through Spark's own parquet writer
    * before landing here).
    */
  def commitAppend(repo: GraftRepo, branch: String, key: String,
      newFiles: Seq[FileEntry], overwrite: Boolean,
      spec: Seq[PartitionField], mapping: Map[String, String],
      fallbackSchemaJson: String, message: Option[String] = None,
      extraProps: Map[String, String] = Map.empty): Unit = {
    val msg = message.getOrElse(s"${if (overwrite) "overwrite" else "append"} $key")
    repo.commitRetry(branch, msg) { base =>
      // props re-read from the rebased head inside the race so a
      // concurrent property change (or stream-batch marker) is not lost
      val prior = base.tables.get(key).map(repo.snapshot)
      val props0 = prior.map(_.properties).getOrElse(Map.empty) ++ extraProps
      // new files stamped with the table's next commit sequence: MoR
      // tombstones committed EARLIER never apply to these rows
      val next = Tombstones.lastSeq(props0) + 1
      val stamped = newFiles.map(_.copy(seq = Some(next)))
      val files =
        if (overwrite) stamped
        else Manifests.appended(prior.map(_.files).getOrElse(Nil), stamped)
      val props = props0 + (Tombstones.SeqProp -> next.toString)
      // INSERT never changes the table schema: keep the snapshot's DDL
      // schema (nullability included — an incoming VALUES df is
      // non-nullable and must not turn table columns into REQUIRED
      // parquet fields that pre-existing files lack)
      val schemaJson = prior.map(_.schemaJson).getOrElse(fallbackSchemaJson)
      val snap = repo.writeSnapshot(key, schemaJson, files,
        if (spec.isEmpty) None else Some(spec),
        if (mapping.isEmpty) None else Some(mapping),
        if (props.isEmpty) None else Some(props),
        prior.flatMap(_.retired))
      (base.tables + (key -> snap.id), base.namespaces)
    }
  }

  /** Publish a copy-on-write rewrite as one commit: drop `removeRels`
    * from the live file set, append `newFiles` at the table's next
    * sequence. Kept files' merge-on-read tombstones stay live — the
    * rewrite replaced only the files it names, whose rows it read
    * delete-applied — and tombstones left with nothing to apply to
    * retire inside `writeSnapshot`. A dropped file no longer live at
    * the commit base (a concurrent rewrite won) refuses with
    * [[MergeConflictException]].
    */
  def commitRewrite(repo: GraftRepo, branch: String, key: String,
      removeRels: Set[String], newFiles: Seq[FileEntry],
      message: Option[String] = None): Unit =
    repo.commitRetry(branch, message.getOrElse(s"rewrite $key")) { base =>
      val prior = base.tables.get(key).map(repo.snapshot).getOrElse(
        throw new NoSuchElementException(s"no such table: $key"))
      val live = prior.files.iterator.map(_.path).toSet
      val missing = removeRels -- live
      if (missing.nonEmpty) throw new MergeConflictException(
        s"rewrite of $key drops ${missing.size} file(s) not live at the " +
          s"commit base (e.g. ${missing.head}) — refresh and retry")
      val next = Tombstones.lastSeq(prior.properties) + 1
      val stamped = newFiles.map(_.copy(seq = Some(next)))
      val kept = prior.files.filterNot(f => removeRels(f.path))
      val props = prior.properties + (Tombstones.SeqProp -> next.toString)
      val snap = repo.writeSnapshot(key, prior.schemaJson,
        kept ++ stamped, prior.partitionBy, prior.physicalNames,
        Some(props), prior.retired)
      (base.tables + (key -> snap.id), base.namespaces)
    }

  // ---- read ------------------------------------------------------------

  def absolutePaths(repo: GraftRepo, snap: Snapshot): Seq[String] =
    snap.files.map(f => repo.dataLocation(f.path))

  /** DataFrame over a snapshot, scanning only files that survive stats
    * pruning against `filters`.
    */
  def readSnapshot(spark: SparkSession, repo: GraftRepo, snap: Snapshot,
      filters: Seq[sources.Filter] = Nil): DataFrame = {
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val live = pruneFiles(snap, schema, filters)
    if (live.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else readFiles(spark, repo, snap, schema, live)
  }

  /** Candidate-file read for CoW rewrites: physical-name read, logical
    * names restored (columns may have been renamed since the files were
    * written). Merge-on-read tombstones are APPLIED — every rewrite path
    * (CoW delete/update, upsert, compaction) reads through here, so a
    * rewrite can never resurrect MoR-deleted rows.
    */
  private def readFiles(spark: SparkSession, repo: GraftRepo, snap: Snapshot,
      schema: StructType, files: Seq[FileEntry]): DataFrame = {
    val m = snap.nameMapping
    val physSchema = toPhysical(schema, m)
    def read(fs: Seq[FileEntry]): DataFrame = spark.read.schema(physSchema)
      .parquet(fs.map(f => repo.dataLocation(f.path)): _*)
    val (clean, dirty) = Tombstones.split(Tombstones.of(snap), physSchema, files,
      Some(repo.dataIO))
    val parts =
      (if (clean.isEmpty) Nil else Seq(read(clean))) ++
        dirty.map { case (fs, tombs) =>
          read(fs).filter(Tombstones.keepColumn(tombs))
        }
    val df = parts.reduce(_ unionAll _)
    if (m.isEmpty) df
    else {
      val top = df.toDF(schema.fieldNames.toIndexedSeq: _*)
      // nested renames: struct member names live in the SCHEMA, not the
      // rows — a positional cast to the logical type relabels them
      if (!m.keysIterator.exists(_.contains('.'))) top
      else top.select(schema.fields.map(f =>
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType)
          .as(f.name)).toIndexedSeq: _*)
    }
  }

  /** Structured-Streaming source over a graft table's APPEND stream: the
    * per-table data directory only ever gains immutable files, so a file
    * stream over its glob sees every committed append exactly once —
    * a zero-infrastructure CDC feed for append-only tables. CoW rewrites
    * (DELETE/UPDATE/upsert-matched) re-emit surviving rows; restrict to
    * append-only tables when exactly-once row semantics matter.
    */
  /** `maxFilesPerTrigger` bounds each microbatch's file count — the
    * admission-control knob that keeps a backlogged consumer (catching
    * up on a 100 TB table after downtime) from planning one giant batch
    * that overwhelms executor memory; None = Spark's default (all
    * available files in the first batch). Merge-on-read caveat: the
    * stream reads raw committed files, so MoR-deleted rows still flow —
    * restrict to append-only tables (same caveat as CoW rewrites,
    * documented above).
    */
  def readStreamAppends(spark: SparkSession, repo: GraftRepo, key: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val c = repo.headCommit("main")
    val snapId = c.tables.getOrElse(key,
      throw new NoSuchElementException(s"no such table: $key"))
    val snap = repo.snapshot(snapId)
    val schema = DataType.fromJson(snap.schemaJson)
      .asInstanceOf[StructType]
    // files are written under PHYSICAL column names (renames are
    // metadata-only): scanning with the logical schema would null-fill
    // every renamed column — read physical, rebind logical, like the
    // batch path (readFiles)
    val m = snap.nameMapping
    val reader = spark.readStream.schema(toPhysical(schema, m))
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    // recursive lookup (not a one-level glob): batch dirs of PARTITIONED
    // tables nest hive-style __p_* directories, and mixing them with
    // unpartitioned batch dirs (compaction output) trips the file
    // source's partition discovery (CONFLICTING_DIRECTORY_STRUCTURES).
    // Discovery has nothing to infer anyway — every data column lives
    // INSIDE graft files; __p_* dirs are engine-internal pruning
    // metadata. The glob filter keeps .bloom sidecars out of the scan.
    val df = reader
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(repo.dataLocation(s"data/$key"))
    if (m.isEmpty) df
    else {
      val top = df.toDF(schema.fieldNames.toIndexedSeq: _*)
      if (!m.keysIterator.exists(_.contains('.'))) top
      else top.select(schema.fields.map(f =>
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType)
          .as(f.name)).toIndexedSeq: _*)
    }
  }

  /** Snapshot property recording the last stream batch id committed into
    * a table (single streaming writer per table, ids monotone — Spark's
    * foreachBatch contract).
    */
  val StreamBatchProp = "graft.stream.lastBatch"

  /** Structured-Streaming SINK into a graft table: each microbatch
    * commits one optimistic append, so a streaming pipeline lands in the
    * same branch/commit/merge world as batch writers (the dual of
    * [[readStreamAppends]]). Exactly-once per epoch: the committed batch
    * id is recorded DURABLY in the table snapshot's properties (not just
    * the head commit message — any unrelated commit landing between the
    * epoch and a post-crash replay would hide a head-message marker and
    * double-append the batch), and every later snapshot threads props
    * through, so a replayed epoch with id <= the recorded one is
    * skipped no matter what else committed in between.
    *
    * Usage: `df.writeStream.foreachBatch(TableOps.streamingAppend(repo,
    * branch, key)).start()`.
    */
  def streamingAppend(repo: GraftRepo, branch: String, key: String)
      : (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    val committed = repo.headCommit(branch).tables.get(key).map(repo.snapshot)
      .flatMap(_.properties.get(StreamBatchProp)).map(_.toLong)
    if (!committed.exists(_ >= batchId))
      insert(batch.sparkSession, repo, branch, key, batch, overwrite = false,
        message = Some(s"stream-append $key batch=$batchId"),
        extraProps = Map(StreamBatchProp -> batchId.toString))
  }

  /** Epoch-commit half of the NATIVE streaming sink
    * (`df.writeStream.toTable(...)` — GraftTable's STREAMING_WRITE):
    * publish already-written files as one append commit stamped with the
    * epoch id, under the same durable exactly-once protocol as
    * [[streamingAppend]] — a replayed epoch with id ≤ the snapshot's
    * recorded batch is a no-op (its staged files stay unreferenced and
    * die with vacuum). Empty epochs commit nothing: an idle stream must
    * not grow the commit log one snapshot per trigger.
    */
  def streamingCommitAppend(repo: GraftRepo, branch: String, key: String,
      spec: Seq[PartitionField], mapping: Map[String, String],
      fallbackSchemaJson: String, overwrite: Boolean = false)(
      epochId: Long, entries: Seq[FileEntry]): Unit = {
    // Complete-mode epochs (overwrite) REPLACE the table per trigger —
    // an empty result must still truncate, so no empty early-out there
    if (entries.isEmpty && !overwrite) return
    val committed = repo.headCommit(branch).tables.get(key).map(repo.snapshot)
      .flatMap(_.properties.get(StreamBatchProp)).map(_.toLong)
    if (!committed.exists(_ >= epochId))
      commitAppend(repo, branch, key, entries, overwrite = overwrite, spec,
        mapping, fallbackSchemaJson,
        message = Some(
          s"stream-${if (overwrite) "overwrite" else "append"} $key batch=$epochId"),
        extraProps = Map(StreamBatchProp -> epochId.toString))
  }

  /** [[pruneFiles]] plus bloom-sidecar pruning ([[Blooms.prune]]) — the
    * row-level ops' candidate selection: a point DELETE/UPDATE on an
    * unclustered high-cardinality column narrows to the files that
    * might actually hold the row, not every file whose [min,max]
    * spans it. Sound for rewrite selection: a bloom "absent" is a
    * proof (no false negatives), so skipped files hold no matching row.
    */
  def pruneFilesBloom(repo: GraftRepo, snap: Snapshot, schema: StructType,
      filters: Seq[sources.Filter]): Seq[FileEntry] =
    Blooms.prune(repo.dataIO, snap, schema, filters,
      pruneFiles(snap, schema, filters))

  /** Keep only files that survive BOTH partition-value pruning (cheap,
    * eliminates whole directories first) and min/max stats pruning.
    */
  def pruneFiles(snap: Snapshot, schema: StructType,
      filters: Seq[sources.Filter]): Seq[FileEntry] = {
    val spec = snap.partitionFields
    val m = snap.nameMapping
    // Manifest-level pruning first: a lazily loaded segmented snapshot
    // skips reading whole chunks whose recorded partition-tuple summary
    // no filter can match — planning touches O(matching chunks) of
    // metadata, not O(all chunks). The summary test reuses the per-file
    // partition pruner on a values-only stub, so transform semantics
    // (bucket/truncate/temporal, null markers) stay in ONE place; a
    // summary-less chunk always loads (conservative).
    val candidates = snap.files match {
      case l: Manifests.LazyFileList
          if !l.isMaterializedList && spec.nonEmpty && filters.nonEmpty =>
        l.partitionPruned(tuples => tuples.exists { pv =>
          val stub = FileEntry("", 0L, Map.empty, Map.empty, Some(pv))
          filters.forall(fl => Partitioning.mayMatch(stub, spec, schema, fl))
        })
      case fs => fs
    }
    candidates.filter(f => filters.forall(fl =>
      Partitioning.mayMatch(f, spec, schema, fl) && mayMatch(f, schema, fl, m)))
  }

  /** [[mayMatch]] for filters already in PHYSICAL names (tombstone
    * applicability: can this file hold rows the predicate touches?).
    */
  private[graft] def statsMayMatch(f: FileEntry, physSchema: StructType,
      filter: sources.Filter): Boolean =
    mayMatch(f, physSchema, filter, Map.empty)

  /** Conservative per-file predicate test on stored min/max (strings,
    * compared via the column's type). Unknown filter shapes / missing
    * stats -> keep the file. Stats are keyed by PHYSICAL column name;
    * `m` translates the filter's logical attribute.
    */
  private def mayMatch(f: FileEntry, schema: StructType, filter: sources.Filter,
      m: Map[String, String] = Map.empty): Boolean = {
    def cmp(attr: String, v: Any): Option[(Int, Int)] = { // (cmp(min,v), cmp(max,v))
      // a dotted attr maps each segment through its logical-path key
      // (nested renames included — same scheme as renameFilter); an
      // exact-match attr (possibly containing literal dots) wins first
      val phys = m.get(attr).orElse(
        if (schema.fields.exists(_.name == attr)) Some(attr)
        else {
          val parts = attr.split('.')
          if (parts.length < 2) Some(attr)
          else Some(parts.indices.map(i =>
            m.getOrElse(parts.take(i + 1).mkString("."), parts(i)))
            .mkString("."))
        }).getOrElse(attr)
      for {
        dt <- leafField(schema, attr)
        lo <- f.min.get(phys)
        hi <- f.max.get(phys)
        c <- statsComparator(dt)
        cl <- c(lo, v)
        ch <- c(hi, v)
      } yield (cl, ch)
    }
    filter match {
      // a constant-false predicate (DELETE ... WHERE 1=2) proves NO file
      // matches — without this, every file is a "candidate" and the CoW
      // path would rewrite the whole table to delete nothing
      case _: sources.AlwaysFalse => false
      // a NULL literal: `a = NULL` / `a > NULL` / `IN (…, NULL)` is
      // never TRUE (three-valued logic), so no row of any file matches
      // on it — and the comparators must never see it (they dereference
      // the literal; a null from e.g. an upsert source's null key would
      // NPE the whole rewrite). EqualNullSafe keeps falling to the
      // conservative default below.
      case sources.EqualTo(_, null) => false
      case sources.GreaterThan(_, null) => false
      case sources.GreaterThanOrEqual(_, null) => false
      case sources.LessThan(_, null) => false
      case sources.LessThanOrEqual(_, null) => false
      case sources.EqualTo(a, v) => cmp(a, v).forall { case (l, h) => l <= 0 && h >= 0 }
      case sources.GreaterThan(a, v) => cmp(a, v).forall(_._2 > 0)
      case sources.GreaterThanOrEqual(a, v) => cmp(a, v).forall(_._2 >= 0)
      case sources.LessThan(a, v) => cmp(a, v).forall(_._1 < 0)
      case sources.LessThanOrEqual(a, v) => cmp(a, v).forall(_._1 <= 0)
      case sources.In(a, vs) => vs.exists(v =>
        v != null && cmp(a, v).forall { case (l, h) => l <= 0 && h >= 0 })
      case sources.And(l, r) => mayMatch(f, schema, l, m) && mayMatch(f, schema, r, m)
      case sources.Or(l, r) => mayMatch(f, schema, l, m) || mayMatch(f, schema, r, m)
      case _ => true
    }
  }

  /** (storedMin, literal) => sign comparator per type; None -> no pruning.
    * Shared with partition-value pruning (Partitioning.mayMatch).
    */
  /** Per-type comparator over (stored stat string, filter literal).
    * Inner Option: None = this particular value pair is not comparable
    * (e.g. an unexpected timestamp literal shape) — the caller MUST keep
    * the file. A strict-range check that treated "unknown" as "equal"
    * would wrongly prune (GreaterThan needs cmp > 0).
    */
  private[versioned] def statsComparator(dt: DataType)
      : Option[(String, Any) => Option[Int]] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some((s, v) => Some(java.lang.Long.compare(s.toLong,
        v.asInstanceOf[Number].longValue())))
    // float stats MUST compare at float precision: the stat string is a
    // float's decimal rendering ("0.1"), and parsing it as double gives
    // 0.1000000000000000055… ≠ (0.1f).toDouble = 0.1000000014901161… —
    // an equality filter would be wrongly "disproven" and prune live
    // rows (with MoR tombstones that LOSES committed deletes)
    case FloatType =>
      Some((s, v) => Some(java.lang.Float.compare(s.toFloat,
        v.asInstanceOf[Number].floatValue())))
    case DoubleType =>
      Some((s, v) => Some(java.lang.Double.compare(s.toDouble,
        v.asInstanceOf[Number].doubleValue())))
    // decimals compare exactly; an unparsable literal shape -> keep
    case _: DecimalType =>
      Some((s, v) => scala.util.Try(new java.math.BigDecimal(s)
        .compareTo(new java.math.BigDecimal(v.toString))).toOption)
    // UTF-8 BINARY order to match Spark's UTF8String comparison (and
    // parquet stat order) — String.compareTo is UTF-16 code-unit order,
    // which disagrees for supplementary characters and could wrongly
    // prune a file whose bounds straddle the literal in engine order
    case StringType => Some((s, v) => Some(
      org.apache.spark.unsafe.types.UTF8String.fromString(s).compareTo(
        org.apache.spark.unsafe.types.UTF8String.fromString(v.toString))))
    case DateType => Some((s, v) => Some(s.compareTo(v.toString))) // ISO sorts lexically
    case TimestampType | TimestampNTZType =>
      Some { (s, v) =>
        for (a <- tsMicros(s); b <- tsLiteralMicros(v))
          yield java.lang.Long.compare(a, b)
      }
    case _ => None
  }

  /** Stored stat string ("yyyy-MM-dd HH:mm:ss[.f]", session tz UTC) ->
    * epoch micros.
    */
  private def tsMicros(s: String): Option[Long] =
    scala.util.Try(java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC)).toOption
      .map(i => i.getEpochSecond * 1000000L + i.getNano / 1000)

  /** v1-filter timestamp literal (Timestamp / Instant / LocalDateTime /
    * String) -> epoch micros, interpreting NTZ shapes as UTC (the
    * catalog's session-timezone contract).
    */
  private def tsLiteralMicros(v: Any): Option[Long] = {
    val inst: Option[java.time.Instant] = v match {
      case t: java.sql.Timestamp => Some(t.toInstant)
      case i: java.time.Instant => Some(i)
      case l: java.time.LocalDateTime => Some(l.toInstant(java.time.ZoneOffset.UTC))
      case s: String =>
        scala.util.Try(java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC)).toOption
      case _ => None
    }
    inst.map(i => i.getEpochSecond * 1000000L + i.getNano / 1000)
  }

  // ---- translate v1 Filters to Column predicates -----------------------

  /** Best-effort translation of a v1 source Filter to a Column. None ->
    * not translatable (caller must reject or post-filter).
    */
  def filterToColumn(f: sources.Filter): Option[Column] = f match {
    case _: sources.AlwaysTrue => Some(lit(true)) // TRUNCATE TABLE arrives as deleteWhere(AlwaysTrue)
    case _: sources.AlwaysFalse => Some(lit(false))
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.Not(c) => filterToColumn(c).map(!_)
    case sources.And(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case _ => None
  }

  /** (next commit sequence, snapshot props with the counter advanced). */
  private def bumpSeq(snap: Snapshot): (Long, Map[String, String]) = {
    val next = Tombstones.lastSeq(snap.properties) + 1
    (next, snap.properties + (Tombstones.SeqProp -> next.toString))
  }

  // ---- merge-on-read delete --------------------------------------------

  /** DELETE WHERE via merge-on-read: an O(1) METADATA commit — no data
    * file is read or written. The predicate (physical names, exact
    * serializable shapes only — [[FilterJson.toJson]]) is appended as a
    * tombstone; reads apply `NOT p` to older files, compaction
    * materializes. Rebase semantics: on a lost commit race the
    * predicate is re-applied to the new head, i.e. the delete behaves
    * as of its COMMIT time (rows a concurrent insert added that match
    * `p` are deleted too — the same outcome as running the DELETE a
    * moment later).
    */
  def deleteWhereMoR(repo: GraftRepo, branch: String, key: String,
      filters: Seq[sources.Filter]): Unit = {
    require(filters.nonEmpty, "merge-on-read DELETE needs a predicate")
    atomicDeleteMoR(repo, branch, Seq(key -> filters),
      s"delete (merge-on-read) from $key")
  }

  /** Multi-table merge-on-read DELETE in ONE atomic commit: each listed
    * table gets its predicate appended as a tombstone (same semantics
    * and physical-name handling as [[deleteWhereMoR]]), and all of them
    * become visible together — a reader never observes one index table
    * with the rows gone and its sibling still serving them. The
    * persisted dedup/ANN indexes retire ids through this (their docs +
    * postings tables must agree on membership).
    */
  def atomicDeleteMoR(repo: GraftRepo, branch: String,
      items: Seq[(String, Seq[sources.Filter])],
      message: String): Unit = {
    require(items.nonEmpty && items.forall(_._2.nonEmpty),
      "atomic merge-on-read DELETE needs at least one (table, predicate)")
    repo.commitRetry(branch, message) { base =>
      // fold over base.tables directly (it may be tree-backed and lazy;
      // `+` keeps it lazy, a .toMap would force every table's tree)
      val tables = items.foldLeft(base.tables) {
        case (acc, (key, filters)) =>
          val snap = repo.snapshot(acc.getOrElse(key,
            throw new NoSuchElementException(s"no such table: $key")))
          val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
          val candidates = pruneFilesBloom(repo, snap, schema, filters)
          if (candidates.isEmpty) acc // provably no match in this table
          else {
            val m = snap.nameMapping
            val phys = filters.map(renameFilter(_, m)).reduce(sources.And(_, _))
            val next = Tombstones.lastSeq(snap.properties) + 1
            val props = Tombstones.append(snap.properties, next, phys)
            val ns = repo.writeSnapshot(key, snap.schemaJson, snap.files,
              snap.partitionBy, snap.physicalNames, Some(props), snap.retired)
            acc + (key -> ns.id)
          }
      }
      (tables, base.namespaces)
    }
    ()
  }

  // ---- copy-on-write delete --------------------------------------------

  /** Conjunction of ALL filters, or a loud failure if any one of them
    * cannot be translated — silently and-ing a translatable subset would
    * make the predicate WEAKER and touch rows the caller never named.
    * Empty filter list -> whole-table (the unconditional DML form).
    */
  private def translateAll(filters: Seq[sources.Filter], what: String): Column =
    if (filters.isEmpty) lit(true)
    else filters.map(f => filterToColumn(f).getOrElse(
      throw new UnsupportedOperationException(
        s"untranslatable $what predicate: $f"))).reduce(_ && _)

  /** This snapshot's bloom opt-in, rendered for [[writeFiles]]: every
    * row-level rewrite must keep building sidecars, or a bloom table's
    * file pruning silently decays under CoW/MoR churn (soundness is
    * unaffected — files without sidecars are always admitted — but the
    * opt-in's point is the pruning).
    */
  private def bloomArgs(snap: Snapshot, schema: StructType)
      : (Seq[String], Long) =
    (Blooms.physCols(snap, toPhysical(schema, snap.nameMapping)),
      Blooms.items(snap))

  /** DELETE WHERE via copy-on-write: stats-prune to candidate files,
    * rewrite only those without the matching rows, commit untouched +
    * rewritten file lists. Mirrors the reference contract exercised by
    * tests/test_iceberg.py:29-41 (DELETE on a branch, then merge).
    */
  def deleteWhere(spark: SparkSession, repo: GraftRepo, branch: String,
      key: String, filters: Seq[sources.Filter]): Unit = {
    // all-or-nothing translation (mirrors canDeleteWhere): and-ing only a
    // translatable SUBSET would delete more rows than the caller asked for
    val cond = translateAll(filters, "delete")
    repo.commitRetry(branch, s"delete from $key") { base =>
      val snapId = base.tables.getOrElse(key,
        throw new NoSuchElementException(s"no such table: $key"))
      val snap = repo.snapshot(snapId)
      val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
      val candidates = pruneFilesBloom(repo, snap, schema, filters)
      if (candidates.isEmpty) (base.tables, base.namespaces)
      else {
        val untouched = snap.files.diff(candidates)
        val candDf = readFiles(spark, repo, snap, schema, candidates)
        val kept = candDf.filter(!coalesce(cond, lit(false)))
        val (next, props) = bumpSeq(snap)
        val (bcols, bitems) = bloomArgs(snap, schema)
        // no isEmpty pre-probe: it runs a take(1) job over the same
        // candidate scan the write pays anyway (a FULL duplicate scan
        // when every row is deleted) — write once, drop empty outputs
        val rewritten = writeFiles(spark, repo, kept, key,
          snap.partitionFields, snap.nameMapping,
          bloomCols = bcols, bloomItems = bitems)
          .filter(_.rows > 0)
          .map(_.copy(seq = Some(next)))
        val newSnap = repo.writeSnapshot(key, snap.schemaJson,
          untouched ++ rewritten, snap.partitionBy, snap.physicalNames,
          Some(props), snap.retired)
        (base.tables + (key -> newSnap.id), base.namespaces)
      }
    }
  }

  /** UPDATE ... SET ... WHERE via copy-on-write (SURVEY.md §2.1
    * vc_update_cow): stats-prune to candidate files, rewrite them with
    * `set` applied to matching rows, keep untouched files as-is. API-level
    * (Spark SQL UPDATE requires SupportsRowLevelOperations; the reference
    * likewise exposes row-level ops through the table API).
    */
  def updateWhere(spark: SparkSession, repo: GraftRepo, branch: String,
      key: String, filters: Seq[sources.Filter], set: Map[String, Column]): Unit = {
    // all-or-nothing: an untranslatable predicate must never silently
    // widen to updating every row
    val cond = translateAll(filters, "update")
    val headSnap = repo.headCommit(branch).tables.get(key).map(repo.snapshot)
    if (headSnap.exists(s =>
      s.properties.get(Tombstones.UpdateModeProp).contains(Tombstones.MergeOnRead)) &&
      filters.nonEmpty &&
      filters.forall(f => FilterJson.toJson(f).isDefined))
      return updateWhereMoR(spark, repo, branch, key, filters, set)
    repo.commitRetry(branch, s"update $key") { base =>
      val snap = repo.snapshot(base.tables(key))
      val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
      val candidates = pruneFilesBloom(repo, snap, schema, filters)
      if (candidates.isEmpty) (base.tables, base.namespaces)
      else {
        val untouched = snap.files.diff(candidates)
        val candDf = readFiles(spark, repo, snap, schema, candidates)
        val hit = coalesce(cond, lit(false))
        // ONE projection: every SET right-hand side sees the OLD row
        // (sequential withColumn would leak already-updated values into
        // later assignments — UPDATE semantics are simultaneous)
        val updated = candDf.select(schema.fields.toIndexedSeq.map { f =>
          set.get(f.name) match {
            case Some(v) =>
              when(hit, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }: _*)
        val (next, props) = bumpSeq(snap)
        val (bcols, bitems) = bloomArgs(snap, schema)
        val rewritten = writeFiles(spark, repo, updated, key,
          snap.partitionFields, snap.nameMapping,
          bloomCols = bcols, bloomItems = bitems)
          .map(_.copy(seq = Some(next)))
        val newSnap = repo.writeSnapshot(key, snap.schemaJson,
          untouched ++ rewritten, snap.partitionBy, snap.physicalNames,
          Some(props), snap.retired)
        (base.tables + (key -> newSnap.id), base.namespaces)
      }
    }
  }

  /** UPDATE via merge-on-read (`graft.update.mode = merge-on-read`):
    * commits a predicate tombstone (deleting the OLD versions of
    * matching rows from every earlier file, exactly as a MoR DELETE
    * would) plus new files holding the UPDATED rows, stamped at the
    * tombstone's own sequence so they are exempt from it — one commit,
    * delete+insert semantics, no existing file rewritten. At 100 TB a
    * selective UPDATE writes only |matched rows| instead of rewriting
    * every file that holds one (the write-amplification trade of
    * Iceberg's merge-on-read UPDATE, with predicate tombstones standing
    * in for positional delete files). Reads, compaction, conflict
    * signatures, schema-evolution guards: all shared with MoR DELETE.
    *
    * Rebase semantics on a lost commit race: re-reads matching rows from
    * the NEW head (the update behaves as of its commit time).
    */
  def updateWhereMoR(spark: SparkSession, repo: GraftRepo, branch: String,
      key: String, filters: Seq[sources.Filter], set: Map[String, Column]): Unit = {
    require(filters.nonEmpty, "merge-on-read UPDATE needs a predicate")
    val cond = translateAll(filters, "update")
    repo.commitRetry(branch, s"update (merge-on-read) $key") { base =>
      val snap = repo.snapshot(base.tables.getOrElse(key,
        throw new NoSuchElementException(s"no such table: $key")))
      val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
      val candidates = pruneFilesBloom(repo, snap, schema, filters)
      if (candidates.isEmpty) (base.tables, base.namespaces) // provably no match
      else {
        val m = snap.nameMapping
        val phys = filters.map(renameFilter(_, m)).reduce(sources.And(_, _))
        // matching rows, with PRIOR tombstones applied (readFiles) — a
        // row an earlier MoR delete removed must not resurrect updated
        val matching = readFiles(spark, repo, snap, schema, candidates)
          .filter(coalesce(cond, lit(false)))
        // one projection: simultaneous-assignment UPDATE semantics
        val updated = matching.select(schema.fields.toIndexedSeq.map { f =>
          set.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
        }: _*)
        val next = Tombstones.lastSeq(snap.properties) + 1
        val props = Tombstones.append(snap.properties, next, phys)
        // seq = next: exempt from this tombstone (applicable is strict >),
        // subject to every later one
        val (bcols, bitems) = bloomArgs(snap, schema)
        val appended = writeFiles(spark, repo, updated, key,
          snap.partitionFields, m, bloomCols = bcols, bloomItems = bitems)
          .map(_.copy(seq = Some(next)))
        val ns = repo.writeSnapshot(key, snap.schemaJson,
          Manifests.appended(snap.files, appended),
          snap.partitionBy, snap.physicalNames, Some(props), snap.retired)
        (base.tables + (key -> ns.id), base.namespaces)
      }
    }
  }

  /** MERGE-style upsert (the Iceberg `MERGE INTO … WHEN MATCHED THEN
    * UPDATE WHEN NOT MATCHED THEN INSERT` shape, API-level): rows of
    * `source` replace target rows with equal `keyCols`; unmatched source
    * rows append. Copy-on-write: when the source key set is small enough
    * to enumerate, target files are stats-pruned by an In-filter and only
    * hit files are rewritten (anti-join against the source); otherwise
    * every file joins — at 100 TB the broadcast anti-join of a small
    * source against pruned files is the common fast path.
    */
  def upsert(spark: SparkSession, repo: GraftRepo, branch: String, key: String,
      source: DataFrame, keyCols: Seq[String], maxEnumeratedKeys: Int = 10000,
      extraProps: Map[String, String] = Map.empty): Unit = {
    val src = source.cache()
    val enumerable: Option[Seq[sources.Filter]] =
      if (keyCols.size == 1 && src.count() <= maxEnumeratedKeys) {
        val vs = src.select(keyCols.head).collect().map(_.get(0))
        Some(Seq(sources.In(keyCols.head, vs)))
      } else None
    repo.commitRetry(branch, s"upsert into $key") { base =>
      val snap = repo.snapshot(base.tables(key))
      val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
      val candidates = pruneFilesBloom(repo, snap, schema, enumerable.getOrElse(Nil))
      val untouched = snap.files.diff(candidates)
      val survivors =
        if (candidates.isEmpty) None
        else {
          val candDf = readFiles(spark, repo, snap, schema, candidates)
          // broadcast the source key set only when it is PROVEN small
          // (the enumerable guard already counted it); a huge merge
          // source must shuffle-join, never broadcast
          val srcKeys = src.select(keyCols.map(col): _*)
          // no isEmpty pre-probe: the write below scans once and
          // empty outputs drop by row count
          Some(candDf.join(
            if (enumerable.isDefined) broadcast(srcKeys) else srcKeys,
            keyCols, "left_anti"))
        }
      val (next, props) = bumpSeq(snap)
      val (bcols, bitems) = bloomArgs(snap, schema)
      val rewritten = survivors
        .map(writeFiles(spark, repo, _, key, snap.partitionFields,
          snap.nameMapping, bloomCols = bcols, bloomItems = bitems))
        .getOrElse(Nil)
        .filter(_.rows > 0)
      val appended = writeFiles(spark, repo,
        src.select(schema.fieldNames.toIndexedSeq.map(col): _*), key,
        snap.partitionFields, snap.nameMapping,
        bloomCols = bcols, bloomItems = bitems)
      val newSnap = repo.writeSnapshot(key, snap.schemaJson,
        (untouched ++ (rewritten ++ appended).map(_.copy(seq = Some(next)))),
        snap.partitionBy, snap.physicalNames,
        Some(props ++ extraProps), snap.retired)
      (base.tables + (key -> newSnap.id), base.namespaces)
    }
    src.unpersist()
  }

  /** foreachBatch body REPLICATING a CDC stream — the `graft-changes` /
    * `iceberg-changes cdc=true` sources, or any batch of
    * `table schema + _change_type` — into a target graft table keyed by
    * `keyCols`: the continuous table-mirroring loop, including adopting
    * a LIVE external Iceberg table into graft:
    *
    * {{{
    * spark.readStream.format("iceberg-changes")
    *   .option("cdc", "true").load(dest)
    *   .writeStream
    *   .foreachBatch(TableOps.applyCdc("g.repo.main.db.mirror", Seq("id")))
    *   .start()
    * }}}
    *
    * A net-change batch carries, per key, at most one delete (the old
    * row) and one insert (the new row); collapsed per key — an insert
    * wins (upsert), a lone delete deletes — ONE atomic MERGE applies
    * the batch, so the mirror moves state-to-state exactly like the
    * source did. Requires `keyCols` to uniquely identify rows on both
    * sides (the precondition of any keyed replication); a delete for a
    * key the mirror never had is a no-op (bootstrap-mid-stream
    * tolerance).
    */
  def applyCdc(target: String, keyCols: Seq[String])
      : (DataFrame, Long) => Unit = { (batch, _) =>
    if (!batch.isEmpty) {
      val s = batch.sparkSession
      val dataCols = batch.columns.filterNot(_ == "_change_type").toSeq
      require(keyCols.forall(dataCols.contains),
        s"key columns ${keyCols.mkString(", ")} must be table columns " +
          s"(${dataCols.mkString(", ")})")
      import org.apache.spark.sql.expressions.Window
      val pick = batch.withColumn("__rk", row_number().over(
          Window.partitionBy(keyCols.map(col): _*)
            .orderBy(when(col("_change_type") === "insert", 0)
              .otherwise(1), col("_change_type"))))
        .filter(col("__rk") === 1).drop("__rk")
      val v = "graft_cdc_apply_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      pick.createOrReplaceTempView(v)
      try {
        val onClause = keyCols.map(k => s"t.`$k` <=> s.`$k`")
          .mkString(" AND ")
        val setClause = dataCols.map(c => s"`$c` = s.`$c`").mkString(", ")
        val insCols = dataCols.map(c => s"`$c`").mkString(", ")
        val insVals = dataCols.map(c => s"s.`$c`").mkString(", ")
        s.sql(
          s"""MERGE INTO $target t USING $v s ON $onClause
             |WHEN MATCHED AND s._change_type = 'delete' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET $setClause
             |WHEN NOT MATCHED AND s._change_type = 'insert'
             |  THEN INSERT ($insCols) VALUES ($insVals)""".stripMargin)
      } finally s.catalog.dropTempView(v)
    }
  }

  // ---- compaction (OPTIMIZE) -------------------------------------------

  /** Compaction: rewrite a table's file layout without changing its rows.
    *
    *  - Bin-packing (default): within each partition-value group, files
    *    smaller than `targetFileBytes` are packed into bins and each bin
    *    is rewritten as ONE file — the antidote to the small-files
    *    problem a streaming sink or frequent small appends create (at
    *    100 TB, scan task count and open-file overhead track file count,
    *    not byte count).
    *  - Sort clustering (`sortBy` non-empty): every file in the group is
    *    rewritten, range-partitioned + sorted by `sortBy`, producing
    *    files with DISJOINT min/max ranges on those columns — after
    *    which stats pruning answers selective filters with single-file
    *    scans even when ingest order was random (the lightweight cousin
    *    of Iceberg's rewrite-with-sort-order).
    *
    * Pure layout change: committed with the same liveness validation as
    * row-level rewrites — if concurrent DML replaced any input file, the
    * commit aborts (re-run compaction) rather than resurrecting rows.
    * Returns (filesBefore, filesAfter).
    */
  /** Z-order key over `cols`: each column is min/max-normalized to 16
    * bits using the SNAPSHOT's file stats (no extra data pass), then the
    * bits are interleaved — rows close in EVERY dimension get close
    * keys, so after range-partitioning by the key, per-file min/max
    * ranges are tight on ALL dimensions at once and a point filter on
    * any one of them prunes files. The multi-column answer where a
    * lexicographic sort only helps its leading column.
    */
  /** Validate a partition spec against a table's (logical) schema — the
    * same rules the catalog enforces at CREATE TABLE.
    */
  def validateSpec(schema: StructType, spec: Seq[PartitionField]): Unit = {
    val names = spec.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate partition field names: ${names.mkString(", ")}")
    spec.foreach { pf =>
      val fd = schema.fields.find(_.name == pf.source).getOrElse(
        throw new IllegalArgumentException(s"no such partition source column: ${pf.source}"))
      pf.transform match {
        case "identity" => ()
        case "bucket" =>
          require(pf.numBuckets > 0, s"bucket count must be > 0: ${pf.numBuckets}")
        case "years" | "months" | "days" | "hours" => fd.dataType match {
          case TimestampType | TimestampNTZType | DateType => ()
          case other => throw new IllegalArgumentException(
            s"${pf.transform} transform needs a timestamp/date source, got ${other.simpleString}")
        }
        case "truncate" =>
          require(pf.numBuckets > 0, s"truncate width must be > 0: ${pf.numBuckets}")
          fd.dataType match {
            case ByteType | ShortType | IntegerType | LongType | StringType => ()
            case other => throw new IllegalArgumentException(
              s"truncate transform needs an integral or string source, got ${other.simpleString}")
          }
        case other => throw new UnsupportedOperationException(
          s"unknown transform: $other (identity/bucket/years/months/days/hours/truncate)")
      }
    }
  }

  /** Partition-spec evolution (Iceberg partition evolution): replace the
    * table's spec going FORWARD, metadata-only — zero files rewritten.
    * Existing files keep the partition values the old spec wrote;
    * [[Partitioning.mayMatch]] keeps any file lacking a field's value, so
    * a mixed-layout table stays correct — old files just stop benefiting
    * from pruning on the new fields until compaction rewrites them.
    *
    * Field-NAME reuse hazard: `FileEntry.partitionValues` is keyed by
    * field name. If an evolved field reused a name whose recorded values
    * came from a DIFFERENT transform (bucket(4,id) -> bucket(8,id)), the
    * new spec would misread old values and prune live rows. A field
    * identical to the current spec keeps its name (continuity); any other
    * collision with a name present in live file metadata or the old spec
    * is rebound to a fresh `<name>_vN` — the invariant Iceberg gets from
    * never-reused field ids. Returns the spec as committed.
    */
  def setPartitionSpec(repo: GraftRepo, branch: String, key: String,
      newSpec: Seq[PartitionField]): Seq[PartitionField] = {
    var committed: Seq[PartitionField] = Nil
    repo.commitRetry(branch, s"set partition spec on $key") { base =>
      val sid = base.tables.getOrElse(key,
        throw new IllegalArgumentException(s"no such table: $key"))
      val ns = respec(repo, key, repo.snapshot(sid), newSpec, Map.empty,
        Set.empty)
      committed = ns.partitionFields
      (base.tables + (key -> ns.id), base.namespaces)
    }
    committed
  }

  /** Write the snapshot [[setPartitionSpec]] commits: `snap` under
    * `newSpec`, with property updates riding along — an engine that
    * bundles set/remove-properties with its spec change must see them
    * land, not vanish.
    */
  private[versioned] def respec(repo: GraftRepo, key: String, snap: Snapshot,
      newSpec: Seq[PartitionField], setProps: Map[String, String],
      removeProps: Set[String]): Snapshot = {
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    validateSpec(schema, newSpec)
    val current = snap.partitionFields.map(f => f.name -> f).toMap
    val recorded: Set[String] =
      snap.files.iterator.flatMap(_.partValues.keys).toSet ++ current.keySet
    val taken = scala.collection.mutable.Set[String]() ++ recorded
    val rebound = newSpec.map { pf =>
      if (current.get(pf.name).contains(pf)) pf // unchanged field: keep name
      else if (!taken.contains(pf.name)) { taken += pf.name; pf }
      else {
        val fresh = Iterator.from(2).map(i => s"${pf.name}_v$i")
          .find(n => !taken.contains(n)).get
        taken += fresh
        pf.copy(name = fresh)
      }
    }
    val props = (snap.properties -- removeProps) ++ setProps
    repo.writeSnapshot(key, snap.schemaJson, snap.files,
      if (rebound.isEmpty) None else Some(rebound),
      Option(snap.physicalNames).flatten,
      if (props.isEmpty) None else Some(props),
      Option(snap.retired).flatten)
  }

  private def zorderColumn(snap: Snapshot, schema: StructType,
      cols: Seq[String]): Column = {
    require(cols.size >= 2, "zorderBy needs at least 2 columns")
    val k = cols.size
    // interleaved key must fit 63 bits (no sign bit: Java shifts are
    // mod-64 and a negative key would range-partition before all
    // others): bit i of column j lands at i*k+j <= bitsPer*k - 1 <= 62
    val bitsPer = math.min(16, 62 / k)
    val maxVal = (1L << bitsPer) - 1
    val normed = cols.zipWithIndex.map { case (c, j) =>
      val field = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no such column: $c"))
      val phys = snap.physicalName(c)
      val cmpParse: String => Double = field.dataType match {
        case ByteType | ShortType | IntegerType | LongType => _.toLong.toDouble
        case FloatType | DoubleType | _: DecimalType => _.toDouble
        case other => throw new IllegalArgumentException(
          s"zorderBy needs numeric columns, got $c: ${other.simpleString}")
      }
      val los = snap.files.flatMap(_.min.get(phys))
      val his = snap.files.flatMap(_.max.get(phys))
      if (los.size != snap.files.size || his.size != snap.files.size)
        throw new IllegalArgumentException(s"column $c lacks stats in some files")
      val lo = los.map(cmpParse).min
      val hi = his.map(cmpParse).max
      val scaled =
        if (hi <= lo) lit(0L)
        else least(lit(maxVal), greatest(lit(0L),
          ((col(c).cast("double") - lit(lo)) / lit(hi - lo) * maxVal.toDouble)
            .cast("long")))
      (scaled, j)
    }
    // interleave: bit i of column j lands at position i*k + j
    normed.map { case (n, j) =>
      (0 until bitsPer).map(i =>
        shiftleft(shiftright(n, i).bitwiseAND(lit(1L)), i * k + j).cast("long"))
        .reduce((a, b) => a.bitwiseOR(b))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  def compact(spark: SparkSession, repo: GraftRepo, branch: String, key: String,
      targetFileBytes: Long = 128L << 20, sortBy: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil): (Int, Int) = {
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sortBy and zorderBy are mutually exclusive")
    val snap = repo.headCommit(branch).tables.get(key).map(repo.snapshot)
      .getOrElse(throw new NoSuchElementException(s"no such table: $key"))
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    // merge-on-read cleanup: files with applicable tombstones are ALWAYS
    // rewrite candidates (regardless of size) — compaction is what
    // materializes MoR deletes and lets the tombstones retire
    val physSchema = toPhysical(schema, snap.nameMapping)
    val tombs = Tombstones.of(snap)
    def isDirty(f: FileEntry): Boolean =
      Tombstones.applicable(tombs, f, physSchema, Some(repo.dataIO)).nonEmpty
    // rewrite units, planned per partition-value group (compaction must
    // never move rows across partition directories)
    val units: Seq[Seq[FileEntry]] = snap.files.groupBy(_.partValues).toSeq
      .sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
      .flatMap { case (_, files) =>
        if (sortBy.nonEmpty || zorderBy.nonEmpty) {
          if (files.isEmpty) Nil else Seq(files) // global re-cluster of the group
        } else {
          val small = files.filter(f =>
            f.sizeBytes(bytesPerRow = 64L) < targetFileBytes || isDirty(f))
          // greedy first-fit bins; only bins that merge >1 file or
          // materialize a tombstone do real work
          val bins = scala.collection.mutable.ListBuffer[List[FileEntry]]()
          var cur = List.empty[FileEntry]; var curBytes = 0L
          small.sortBy(-_.sizeBytes(64L)).foreach { f =>
            val b = f.sizeBytes(64L)
            if (cur.nonEmpty && curBytes + b > targetFileBytes) {
              bins += cur; cur = Nil; curBytes = 0L
            }
            cur = f :: cur; curBytes += b
          }
          if (cur.nonEmpty) bins += cur
          bins.filter(b => b.size > 1 || b.exists(isDirty)).map(_.reverse).toSeq
        }
      }
    if (units.isEmpty) return (snap.files.size, snap.files.size)
    val replacedPaths = units.flatten.map(_.path).toSet
    val newEntries = units.flatMap { unit =>
      val df = readFiles(spark, repo, snap, schema, unit)
      val totalBytes = unit.map(_.sizeBytes(64L)).sum
      val n = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
      val out =
        if (zorderBy.nonEmpty) {
          // cluster on the interleaved key, then DROP it (projection
          // after the sort keeps row order; the key is derivable, not
          // stored). Files end up tight on EVERY zorder dimension.
          val zc = zorderColumn(snap, schema, zorderBy)
          df.withColumn("__zorder", zc)
            .repartitionByRange(n, col("__zorder"))
            .sortWithinPartitions(col("__zorder"))
            .drop("__zorder")
        }
        else if (sortBy.nonEmpty) {
          val cols = sortBy.map(col)
          df.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)
        }
        else df.coalesce(1)
      // NDV hint for the footer-stats path: the rewrite unit's merged
      // input NDV (Σ per-file, capped by rows — the same upper-bound
      // merge CBO applies), so compaction keeps column statistics alive
      // without re-scanning what it just wrote
      val unitRows = math.max(1L, unit.map(_.rows).sum)
      val hint = physSchema.fields.map(_.name).flatMap { c =>
        val vals = unit.flatMap(_.ndvCounts.get(c))
        if (vals.size != unit.size) None
        else Some(c -> math.min(vals.sum, unitRows))
      }.toMap
      writeFiles(spark, repo, out, key, snap.partitionFields, snap.nameMapping,
        preserveLayout = true,
        bloomCols = Blooms.physCols(snap, physSchema),
        bloomItems = Blooms.items(snap),
        ndvHint = hint)
    }
    val committed = repo.commitRetry(branch, s"compact $key",
      marker = Some(Commit.CompactMarker)) { base =>
      val cur = repo.snapshot(base.tables.getOrElse(key,
        throw new NoSuchElementException(s"no such table: $key")))
      val live = cur.files.map(_.path).toSet
      val gone = replacedPaths.diff(live)
      if (gone.nonEmpty)
        throw new MergeConflictException(
          s"compaction of $key conflicts with a concurrent rewrite of " +
            s"${gone.size} file(s); re-run compaction")
      // the rewrite applied the tombstones of the PLANNING snapshot; a
      // concurrent MoR delete since then would be silently materialized
      // away (its rows resurrected with a fresh seq) — conflict instead.
      // Signatures (seq + predicate), not bare seqs: revert can rewind
      // the counter and alias a seq onto a different delete.
      if (Tombstones.signature(cur) != Tombstones.signature(snap))
        throw new MergeConflictException(
          s"compaction of $key conflicts with a concurrent merge-on-read " +
            "delete; re-run compaction")
      val (next, props) = bumpSeq(cur)
      val untouched = cur.files.filterNot(f => replacedPaths.contains(f.path))
      val newSnap = repo.writeSnapshot(key, cur.schemaJson,
        untouched ++ newEntries.map(_.copy(seq = Some(next))),
        cur.partitionBy, cur.physicalNames,
        Some(props), cur.retired)
      (base.tables + (key -> newSnap.id), base.namespaces)
    }
    (snap.files.size,
      repo.snapshot(committed.tables(key)).files.size)
  }

  /** Incremental read: rows in the files that `toRef`'s snapshot has
    * and `fromRef`'s does not — for an append-only table, exactly the
    * rows committed in between (the batch analog of
    * [[readStreamAppends]]: a consumer checkpoints a commit id and reads
    * only the delta, metadata-pruned, no row-level anti-join). CoW
    * rewrites re-emit surviving rows of rewritten files; use
    * [[diffRows]] when row-exact deltas matter on rewritten tables.
    */
  def appendsBetween(spark: SparkSession, repo: GraftRepo,
      fromRef: String, toRef: String, key: String): DataFrame = {
    def filesOf(ref: String): Seq[FileEntry] =
      repo.resolve(ref).tables.get(key)
        .map(id => repo.snapshot(id).files).getOrElse(Nil)
    val newSnapId = repo.resolve(toRef).tables.get(key)
    val before = filesOf(fromRef).map(_.path).toSet
    newSnapId match {
      case None => spark.emptyDataFrame
      case Some(id) =>
        val snap = repo.snapshot(id)
        val delta = snap.files.filterNot(f => before.contains(f.path))
        val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
        if (delta.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else readFiles(spark, repo, snap, schema, delta)
    }
  }

  /** BOTH multiset differences — `plus ∖ minus` tagged `plusTag` and
    * `minus ∖ plus` tagged `minusTag` — in ONE pass. The old shape was
    * an exceptAll PAIR; Spark rewrites EACH exceptAll into union +
    * signed-count aggregate + replicate (RewriteExceptAll), so the pair
    * scanned both inputs twice and ran two aggregation shuffles. One
    * signed aggregation computes both directions: net = count_plus −
    * count_minus per distinct row; net > 0 ⇒ net copies tagged
    * `plusTag`, net < 0 ⇒ −net copies tagged `minusTag` — exactly the
    * exceptAll pair's multiset semantics (NULL/NaN grouping equality
    * matches set-op equality), row order excepted (every caller sorts
    * or aggregates downstream).
    */
  private[versioned] def netDiff(plus: DataFrame, minus: DataFrame, tagCol: String,
      plusTag: String, minusTag: String): DataFrame = {
    val cols = plus.columns.toSeq
    plus.withColumn("__sgn", lit(1L))
      .unionByName(minus.withColumn("__sgn", lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("__sgn")).as("__net"))
      .filter(col("__net") =!= 0L)
      .withColumn(tagCol,
        when(col("__net") > 0, lit(plusTag)).otherwise(lit(minusTag)))
      .withColumn("__rep",
        explode(sequence(lit(1L), abs(col("__net")))))
      .select(cols.map(col) :+ col(tagCol): _*)
  }

  /** Row-level diff between two refs of one table: rows only in A and
    * only in B (the exceptAll-pair semantics, computed in one pass —
    * see [[netDiff]]), tagged with a `side` column.
    */
  def diffRows(spark: SparkSession, repo: GraftRepo, refA: String, refB: String,
      key: String): DataFrame = {
    def read(ref: String): DataFrame = {
      val c = repo.resolve(ref)
      c.tables.get(key).map(id => readSnapshot(spark, repo, repo.snapshot(id)))
        .getOrElse(spark.emptyDataFrame)
    }
    netDiff(read(refA), read(refB), "side", "only_" + refA, "only_" + refB)
  }

  /** Multi-table ATOMIC append: stage writes for several tables, then
    * publish them all in ONE commit — either every table advances or
    * none does (readers never observe a partial cross-table state).
    * This is the repo-level transactionality the reference's design
    * inherits from lakeFS (a lakeFS commit captures the whole repo
    * state, LakeFSTableOperations.java's set-if-absent protocol per
    * metadata pointer) and that per-table Iceberg commits cannot give:
    * fact + dimension land together or not at all. Data files are
    * written outside the commit race (expensive, conflict-free);
    * only the snapshot pointer swap retries under contention. Each
    * table's files are seq-stamped against its own counter, same as a
    * single-table insert.
    */
  def atomicAppend(spark: SparkSession, repo: GraftRepo, branch: String,
      tables: Seq[(String, DataFrame)], message: String = ""): Unit = {
    val staged = stageConcurrently(tables) { case (key, df) =>
      // refuse a missing table BEFORE any files land: the commit body
      // would throw on it anyway, but only after every table's full
      // data volume was written (orphans until vacuum)
      val head = repo.headCommit(branch).tables.get(key).map(repo.snapshot)
        .getOrElse(throw new NoSuchElementException(
          s"no such table: $key (atomicAppend appends to existing " +
            "tables; CREATE it first)"))
      val spec = head.partitionFields
      val mapping = head.nameMapping
      val blooms = Blooms.physCols(head, toPhysical(
        DataType.fromJson(head.schemaJson).asInstanceOf[StructType],
        mapping))
      // align source columns to the table schema BY NAME (the check SQL
      // INSERT gets from the analyzer): a stray/misnamed column — e.g.
      // an unaliased `x + 1` — would otherwise be written under its
      // expression name and read back as NULL
      val names = DataType.fromJson(head.schemaJson)
        .asInstanceOf[StructType].fieldNames.toIndexedSeq
      require(df.columns.toSet == names.toSet,
        s"atomicAppend column mismatch for $key: " +
          s"expected ${names.mkString(",")}, got ${df.columns.mkString(",")}")
      val aligned = df.select(names.map(col): _*)
      key -> writeFiles(spark, repo, aligned, key, spec, mapping,
        bloomCols = blooms, bloomItems = Blooms.items(head))
    }
    val msg = if (message.nonEmpty) message
      else s"atomic append ${tables.map(_._1).mkString(", ")}"
    repo.commitRetry(branch, msg) { base =>
      val updated = staged.foldLeft(base.tables) { case (acc, (key, newFiles)) =>
        val prior = acc.get(key).map(repo.snapshot).getOrElse(
          throw new NoSuchElementException(s"no such table: $key"))
        val props0 = prior.properties
        val next = Tombstones.lastSeq(props0) + 1
        val stamped = newFiles.map(_.copy(seq = Some(next)))
        val snap = repo.writeSnapshot(key, prior.schemaJson,
          Manifests.appended(prior.files, stamped),
          prior.partitionBy, prior.physicalNames,
          Some(props0 + (Tombstones.SeqProp -> next.toString)),
          prior.retired)
        acc + (key -> snap.id)
      }
      (updated, base.namespaces)
    }
  }

  /** Serialized merge-on-read tombstone bytes riding `key`'s HEAD
    * snapshot properties. Every subsequent snapshot write re-carries
    * them until compaction materializes the deletes, so retire paths
    * check this after each bounded retire and warn past a threshold —
    * repeated large retires must not silently compound metadata on the
    * hot commit path.
    */
  def tombstonePropBytes(repo: GraftRepo, branch: String, key: String): Long =
    repo.headCommit(branch).tables.get(key).map(repo.snapshot)
      .flatMap(_.properties.get(Tombstones.TombProp))
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong)
      .getOrElse(0L)

  /** Multi-table ATOMIC REPLACE: stage full NEW contents for several
    * tables, publish them all in ONE commit — [[atomicAppend]]'s
    * sibling for rebuild operations (e.g. an ANN index retrain), where
    * each table's next snapshot carries ONLY the newly staged files.
    * Schema and partitioning are preserved; merge-on-read tombstones
    * retire (nothing they referenced survives the rewrite); the seq
    * counter still advances monotonically so incremental consumers
    * order correctly. Prior contents stay time-travelable.
    *
    * CONCURRENCY: the staged content derives from a snapshot the caller
    * read earlier, so a commit landing on any replaced table in between
    * would be silently overwritten (and its tombstones dropped without
    * ever being applied). The commit therefore validates each table's
    * snapshot id against `expectBase` — the id the caller read from
    * (pass the head-commit table map captured BEFORE reading) — or,
    * absent an entry, against the id observed when staging began; a
    * moved table throws [[MergeConflictException]]: re-derive and
    * retry, the same contract as [[compact]].
    */
  def atomicReplace(spark: SparkSession, repo: GraftRepo, branch: String,
      tables: Seq[(String, DataFrame)], message: String = "",
      expectBase: Map[String, String] = Map.empty): Unit = {
    val head0 = repo.headCommit(branch).tables
    val expect = tables.map { case (key, _) =>
      key -> expectBase.getOrElse(key, head0.getOrElse(key,
        throw new NoSuchElementException(
          s"no such table: $key (atomicReplace rewrites existing " +
            "tables; CREATE it first)")))
    }.toMap
    val staged = stageConcurrently(tables) { case (key, df) =>
      // staged against the SAME head0 the expect map pinned — a second
      // head read here could observe a commit the precheck would then
      // blame on the caller
      val head = repo.snapshot(expect(key))
      val names = DataType.fromJson(head.schemaJson)
        .asInstanceOf[StructType].fieldNames.toIndexedSeq
      require(df.columns.toSet == names.toSet,
        s"atomicReplace column mismatch for $key: " +
          s"expected ${names.mkString(",")}, got ${df.columns.mkString(",")}")
      val aligned = df.select(names.map(col): _*)
      key -> writeFiles(spark, repo, aligned, key, head.partitionFields,
        head.nameMapping,
        bloomCols = Blooms.physCols(head, toPhysical(
          DataType.fromJson(head.schemaJson).asInstanceOf[StructType],
          head.nameMapping)),
        bloomItems = Blooms.items(head))
    }
    val msg = if (message.nonEmpty) message
      else s"atomic replace ${tables.map(_._1).mkString(", ")}"
    repo.commitRetry(branch, msg) { base =>
      val updated = staged.foldLeft(base.tables) { case (acc, (key, newFiles)) =>
        val curId = acc.getOrElse(key,
          throw new NoSuchElementException(s"no such table: $key"))
        if (curId != expect(key))
          throw new MergeConflictException(
            s"replace of $key conflicts with a concurrent commit " +
              "(the staged content derives from a superseded snapshot); " +
              "re-derive and retry")
        val prior = repo.snapshot(curId)
        val (next, props0) = bumpSeq(prior)
        // tombstones retire with the files they applied to (safe: the
        // precheck above proves no tombstone landed since staging)
        val props = props0 - Tombstones.TombProp
        val snap = repo.writeSnapshot(key, prior.schemaJson,
          newFiles.map(_.copy(seq = Some(next))),
          prior.partitionBy, prior.physicalNames,
          Some(props), prior.retired)
        acc + (key -> snap.id)
      }
      (updated, base.namespaces)
    }
  }

  /** CDC change feed: the NET row-level changes of one table between two
    * refs, as `_change_type` ∈ insert/delete rows (an update = delete of
    * the old version + insert of the new — Iceberg's changelog contract).
    *
    * The 100 TB property: unlike [[diffRows]] (exceptAll over BOTH full
    * table states — O(table)), this plans from the snapshot file diff and
    * reads ONLY the files the two snapshots disagree on: files added,
    * files removed, and common files whose applicable merge-on-read
    * tombstone set changed (row visibility in an IMMUTABLE common file
    * can change no other way). A commit that touched 3 files of a
    * 10-million-file table costs a 3-file scan, not a table scan. The
    * exceptAll pair nets out copy-on-write noise — a CoW DELETE rewrites
    * whole files, but its surviving rows appear on both the removed and
    * added side and cancel; only true changes survive.
    *
    * Both refs must share the table's logical schema (CDC across a
    * schema change is ambiguous — which shape should changed rows take?);
    * callers diff up to the evolution commit, then from it.
    */
  def changesBetween(spark: SparkSession, repo: GraftRepo,
      fromRef: String, toRef: String, key: String): DataFrame =
    changesBetween(spark, repo, Some(fromRef), toRef, key)

  /** `fromRef` None ⇒ diff from the EMPTY state: every live row at
    * `toRef` is an insert (the initial load of a CDC consumer — see
    * [[graft.catalog.GraftCdcMicroBatchStream]]).
    */
  def changesBetween(spark: SparkSession, repo: GraftRepo,
      fromRef: Option[String], toRef: String, key: String): DataFrame = {
    def snapOf(ref: String): Option[Snapshot] =
      repo.resolve(ref).tables.get(key).map(repo.snapshot)
    val sFrom = fromRef.flatMap(snapOf); val sTo = snapOf(toRef)
    val schema = (sTo orElse sFrom).map(s =>
      DataType.fromJson(s.schemaJson).asInstanceOf[StructType])
      .getOrElse(throw new NoSuchElementException(s"no such table: $key"))
    for (a <- sFrom; b <- sTo)
      if (a.schemaJson != b.schemaJson)
        throw new UnsupportedOperationException(
          s"changesBetween across a schema change of $key; diff in two " +
            "steps at the evolution commit")
    // per-file visibility signature: the applicable tombstones (seq +
    // predicate — seqs alone can alias across revert/rollback)
    def visSig(s: Snapshot): Map[String, Seq[(Long, String)]] = {
      val phys = toPhysical(
        DataType.fromJson(s.schemaJson).asInstanceOf[StructType], s.nameMapping)
      val (clean, dirty) = Tombstones.split(Tombstones.of(s), phys, s.files,
        Some(repo.dataIO))
      (clean.map(_.path -> Seq.empty[(Long, String)]) ++
        dirty.flatMap { case (fs, tombs) =>
          val sig = tombs.map(t =>
            (t.seq, Json.write(FilterJson.toJson(t.filter).get)))
          fs.map(_.path -> sig)
        }).toMap
    }
    val fromSig = sFrom.map(visSig).getOrElse(Map.empty)
    val toSig = sTo.map(visSig).getOrElse(Map.empty)
    // a common file contributes only when its tombstone signature moved
    def changedSide(s: Option[Snapshot], mine: Map[String, Seq[(Long, String)]],
        other: Map[String, Seq[(Long, String)]]): Seq[FileEntry] =
      s.map(_.files.filter(f => other.get(f.path) match {
        case None => true // file only on this side
        case Some(sig) => sig != mine(f.path)
      })).getOrElse(Nil)
    val delFiles = changedSide(sFrom, fromSig, toSig)
    val insFiles = changedSide(sTo, toSig, fromSig)
    def visible(s: Option[Snapshot], fs: Seq[FileEntry]): DataFrame =
      if (fs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else readFiles(spark, repo, s.get, schema, fs)
    val deleted = visible(sFrom, delFiles)
    val inserted = visible(sTo, insFiles)
    // net changes in ONE aggregation pass (see netDiff) — the exceptAll
    // pair read both changed-file sets twice and shuffled twice
    netDiff(inserted, deleted, "_change_type", "insert", "delete")
  }
}
