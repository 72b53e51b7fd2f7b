package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.SparkSession

import graft.versioned.{GraftRepo, IcebergImport, IcebergRestServer}

/** `rest_commit`: external-engine traffic against a writable Iceberg
  * REST catalog on loopback. Three clients, each with one keep-alive
  * connection, loop: load a table, write a manifest and manifest list
  * for one pre-staged data file (as an engine does, per attempt), and
  * POST an append that asserts the ref snapshot; a 409 reloads and
  * retries. A seeded share of the ops are two-table transactions. */
object RestCommit {
  // three clients, never more than the host has processors
  private val Clients = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors()))
  private val Tables = Seq("t0", "t1")
  private val InitialRows = 50L
  private val StagedRows = 10L
  private val Token = "perfbench-token"
  private val mapper = new ObjectMapper()
  private val ns = java.net.URLEncoder.encode("main\u001fdb", "UTF-8")

  private val entrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |{"name":"content","type":"int"},
      |{"name":"file_path","type":"string"},
      |{"name":"file_format","type":"string"},
      |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
      |{"name":"record_count","type":"long"},
      |{"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin.replaceAll("\n", ""))
  private val listSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int"},
      |{"name":"sequence_number","type":"long"},
      |{"name":"min_sequence_number","type":"long"},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null}]}""".stripMargin.replaceAll("\n", ""))

  /** A served table as one client saw it. */
  private final case class Served(table: String, meta: JsonNode, location: String) {
    def uuid: String = meta.get("table-uuid").asText()
    def refSnap: Option[Long] = Option(meta.get("refs")).flatMap(r => Option(r.get("main")))
      .map(_.get("snapshot-id").asLong())
    def totalRecords: Long = {
      val cur = meta.get("current-snapshot-id").asLong()
      meta.get("snapshots").elements().asScala.find(_.get("snapshot-id").asLong() == cur)
        .map(_.get("summary").get("total-records").asText().toLong).getOrElse(0L)
    }
    def files: Seq[String] = IcebergImport.plan(Paths.get(location)).dataPaths
  }

  private final class Client(base: String, scratch: Path) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private def req(path: String) = HttpRequest.newBuilder(URI.create(base + path))
      .header("Authorization", s"Bearer $Token")

    def load(t: String): Served = Trace.span("rest", "load") {
      val r = http.send(req(s"/v1/namespaces/$ns/tables/$t").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      if (r.statusCode() != 200) {
        Trace.count("rest.errors")
        throw new IllegalStateException(s"loadTable $t: HTTP ${r.statusCode()}")
      }
      val j = mapper.readTree(r.body())
      Served(t, j.get("metadata"), j.get("metadata-location").asText())
    }

    def post(path: String, body: String): Int = Trace.span("rest", "commit") {
      Trace.count("rest.commit_attempts")
      val r = http.send(req(path).POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val c = r.statusCode()
      if (c == 409) Trace.count("rest.conflicts")
      else if (c / 100 != 2) Trace.count("rest.errors")
      else Trace.count("rest.commits_won")
      c
    }

    /** Manifest + manifest list naming every current file plus `add`. */
    def stage(snapId: Long, files: Seq[(String, Long)]): Path = {
      val m = scratch.resolve(s"m-$snapId.avro")
      val mw = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](entrySchema))
      mw.setMeta("format-version", "2")
      mw.create(entrySchema, m.toFile)
      try files.foreach { case (p, rows) =>
        val dfS = entrySchema.getField("data_file").schema()
        val df = new GenericData.Record(dfS)
        df.put("content", 0)
        df.put("file_path", p)
        df.put("file_format", "PARQUET")
        df.put("partition", new GenericData.Record(dfS.getField("partition").schema()))
        df.put("record_count", rows)
        df.put("file_size_in_bytes", Files.size(localPath(p)))
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("snapshot_id", snapId)
        e.put("data_file", df)
        mw.append(e)
      } finally mw.close()
      val list = scratch.resolve(s"snap-$snapId.avro")
      val lw = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](listSchema))
      lw.setMeta("format-version", "2")
      lw.create(listSchema, list.toFile)
      try {
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", m.toUri.toString)
        r.put("manifest_length", Files.size(m))
        r.put("partition_spec_id", 0)
        r.put("content", 0)
        r.put("sequence_number", 1L)
        r.put("min_sequence_number", 1L)
        r.put("added_snapshot_id", snapId)
        lw.append(r)
      } finally lw.close()
      list
    }
  }

  private def localPath(p: String): Path =
    if (p.startsWith("file:")) Paths.get(URI.create(p)) else Paths.get(p)

  private def change(s: Served, snapId: Long, list: Path, withIdent: Boolean): String = {
    val assertRef = s.refSnap.map(x => s""","snapshot-id":$x""").getOrElse("")
    val ident = if (withIdent) s""""identifier":{"namespace":["main","db"],"name":"${s.table}"},""" else ""
    s"""{$ident"requirements":[{"type":"assert-table-uuid","uuid":"${s.uuid}"},""" +
      s"""{"type":"assert-ref-snapshot-id","ref":"main"$assertRef}],"updates":[""" +
      s"""{"action":"add-snapshot","snapshot":{"snapshot-id":$snapId,"timestamp-ms":${System.currentTimeMillis()},""" +
      s""""schema-id":0,"manifest-list":"${list.toUri}","summary":{"operation":"append"}}},""" +
      s"""{"action":"set-snapshot-ref","ref-name":"main","snapshot-id":$snapId,"type":"branch"}]}"""
  }

  private final case class Fixture(repo: GraftRepo, srv: IcebergRestServer, exportRoot: Path,
      stageDirs: Map[String, Path], staged: Map[String, mutable.Queue[String]],
      initial: Map[String, Map[String, Long]])

  def run(a: Args, res: Results, spark: SparkSession, catRoot: Path): Measured = {
    val perTable = if (a.tiny) 60 else 400
    val rows = (1L to InitialRows).map(i => (i, (i % 13).toInt))
    import spark.implicits._
    val stagedSrc = a.work.resolve("staged-src")
    (1L to StagedRows).map(i => (1000000L + i, 7)).toDF("id", "v").coalesce(1)
      .write.parquet(stagedSrc.toString)
    val srcFile = Files.list(stagedSrc).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get

    def build(i: Int): Fixture = {
      val r = s"rc$i"
      spark.sql(s"CREATE NAMESPACE g.$r")
      spark.sql(s"CREATE NAMESPACE g.$r.main.db")
      Tables.foreach { t =>
        spark.sql(s"CREATE TABLE g.$r.main.db.$t (id BIGINT, v INT)")
        rows.toDF("id", "v").writeTo(s"g.$r.main.db.$t").append()
      }
      val repo = GraftRepo.open(catRoot.resolve(r), BenchIO.io)
      val exportRoot = a.work.resolve(s"exports-$r")
      val srv = IcebergRestServer.start(repo, exportRoot, Some(spark), writable = true, token = Some(Token))
      val c = new Client(srv.uri, a.work)
      val servedNow = Tables.map(t => t -> c.load(t)).toMap
      // data files are staged where the served table says writers put them
      val dirs = Tables.map { t =>
        t -> Files.createDirectories(Paths.get(URI.create(
          servedNow(t).meta.get("properties").get("write.data.path").asText() + "/")))
      }.toMap
      val staged = Tables.map { t =>
        t -> mutable.Queue.from((0 until perTable).map { j =>
          val f = dirs(t).resolve(f"staged-$j%05d.parquet")
          Files.copy(srcFile, f)
          f.toUri.toString
        })
      }.toMap
      // rows of the files the tables started with, by file name
      val head = repo.headCommit("main")
      val initialRows = Tables.map { t =>
        t -> repo.snapshot(head.tables(s"db/$t")).files
          .map(e => Paths.get(e.path).getFileName.toString -> e.rows).toMap
      }.toMap
      Fixture(repo, srv, exportRoot, dirs, staged, servedNow.map { case (t, s) =>
        t -> s.files.map(p => p -> initialRows(t)(localPath(p).getFileName.toString)).toMap })
    }
    var fixture: Fixture = null
    Setup.repeat(res, if (a.tiny) 2 else 3) { i =>
      if (fixture != null) fixture.srv.close()
      fixture = build(i)
    }
    val f = fixture
    // per client and table: the files that client saw committed
    val committed = (0 until Clients).map(_ =>
      Tables.map(t => t -> java.util.concurrent.ConcurrentHashMap.newKeySet[String]()).toMap)
    val snapIds = new AtomicLong(1000000L)
    var planted = a.plantWrong

    val copies = new AtomicLong(perTable.toLong)
    /** A data file for one commit to `t`, taken outside the timed op: from
      * the files staged at set-up or, once a fast run has used them up, a
      * fresh copy of the same file. */
    def take(t: String): String = {
      val q = f.staged(t)
      q.synchronized(if (q.nonEmpty) Some(q.dequeue()) else None).getOrElse {
        val p = f.stageDirs(t).resolve(f"staged-${copies.getAndIncrement()}%05d.parquet")
        Files.copy(srcFile, p)
        p.toUri.toString
      }
    }

    /** Served state is right: its row count matches the files it lists,
      * and no file client `ci` saw committed has gone missing. */
    def correct(s: Served, ci: Int): Boolean = {
      val files = s.files
      val want = files.map(p => if (f.initial(s.table).contains(p)) 0L else StagedRows).sum +
        InitialRows
      val names = files.map(p => localPath(p).getFileName.toString).toSet
      val ok = s.totalRecords == want &&
        (if (ci < 0) committed.flatMap(_(s.table).asScala) else committed(ci)(s.table).asScala)
          .forall(p => names(localPath(p).getFileName.toString))
      if (planted) { planted = false; false } else ok
    }

    /** All clients run until each has done `perClient` loops (when
      * given) or until `untilNs`; ops are recorded into `out`. */
    def phase(out: Results, perClient: Option[Int], untilNs: Long): Unit = {
      val threads = (0 until Clients).map { ci =>
        new Thread(() => {
          val c = new Client(f.srv.uri, Files.createDirectories(a.work.resolve(s"client$ci")))
          val rnd = Data.rng(a.seed, 100L + ci + 10L * perClient.getOrElse(0))
          var n = 0
          def more = perClient.fold(System.nanoTime() < untilNs)(n < _)
          // an error outside an op ends this client as a failed op
          try while (more) {
            val txn = rnd.nextInt(4) == 0
            val tables = if (txn) Tables else Seq(Tables(rnd.nextInt(Tables.size)))
            val adds = tables.map(t => t -> take(t)).toMap
            var served: Map[String, Served] = Map.empty
            out.run(None, "load")(tables.map(t => t -> c.load(t)).toMap) { m =>
              served = m; m.values.forall(correct(_, ci))
            }
            out.run(None, "commit") {
              var done = false
              var attempts = 0
              while (!done) {
                attempts += 1
                if (attempts > 50) throw new IllegalStateException("commit retries exhausted")
                if (attempts > 1) served = tables.map(t => t -> c.load(t)).toMap
                val bodies = tables.map { t =>
                  val s = served(t)
                  val id = snapIds.incrementAndGet()
                  val list = c.stage(id, s.files.map(p => (p, f.initial(t).getOrElse(p, StagedRows))) :+
                    (adds(t) -> StagedRows))
                  change(s, id, list, withIdent = txn)
                }
                val code =
                  if (txn) c.post("/v1/transactions/commit", bodies.mkString("""{"table-changes":[""", ",", "]}"))
                  else c.post(s"/v1/namespaces/$ns/tables/${tables.head}", bodies.head)
                if (code / 100 == 2) done = true
                else if (code != 409) throw new IllegalStateException(s"commit: HTTP $code")
              }
              attempts
            } { _ => tables.foreach(t => committed(ci)(t).add(adds(t))); true }
            n += 1
          } catch { case e: Exception => out.outcome(ok = false, s"client $ci: ${e.getMessage}") }
        }, s"rest-client-$ci")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }

    // warm-up, not measured
    val warm = new Results
    phase(warm, Some(3), 0L)
    res.absorbFailures(warm)
    val start = Measured.begin(res, f.repo.root)
    val exportsAtStart = Storage.files(f.exportRoot).size
    val budget = new Budget(a, 0)
    phase(res, if (a.trace) Some(if (a.tiny) 4 else 12) else None,
      System.nanoTime() + a.seconds * 1000000000L)
    res.info("rest.clients") = Clients
    res.info("rest.commits") = committed.map(_.values.map(_.size).sum).sum
    // the final served state, after every client has stopped
    val last = new Client(f.srv.uri, a.work)
    Tables.foreach(t => res.outcome(correct(last.load(t), -1), s"final state of $t"))
    Trace.count("rest.export_objects_written", (Storage.files(f.exportRoot).size - exportsAtStart).toLong)
    f.srv.close()
    start.end(budget, f.repo)
  }
}
