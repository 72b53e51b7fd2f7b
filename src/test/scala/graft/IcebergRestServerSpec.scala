package graft

import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI
import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalatest.matchers.should.Matchers

import graft.versioned.{GraftRepo, IcebergRestServer}

/** The embedded Iceberg REST catalog served over a live graft repo,
  * exercised with a plain JDK HTTP client exactly as an external
  * engine's REST client would: config → namespace walk → table listing
  * → loadTable — then the served `metadata-location` is ACTUALLY READ
  * through the independent `iceberg_import` reader and compared to the
  * graft table, closing the loop a remote engine would close. Covers
  * branch + tag refs, on-demand re-export after DML (new metadata
  * version, old one still readable), memoized re-serve (no new
  * version), the spec's 0x1F multi-level namespace encoding, spec-shaped
  * 404/405 ErrorResponses, and read-only enforcement.
  */
class IcebergRestServerSpec extends AnyFunSuite with Matchers
    with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
    .config("spark.sql.catalog.g", classOf[graft.catalog.GraftCatalog].getName)
    .config("spark.sql.catalog.g.root",
      Files.createTempDirectory("graft-rest").toString)
    .getOrCreate()

  private val mapper = new ObjectMapper()
  private val http = HttpClient.newHttpClient()

  private var server: IcebergRestServer = _
  private var base: String = _

  private def sql(q: String) = spark.sql(q)

  private def get(path: String): (Int, JsonNode) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), mapper.readTree(r.body()))
  }

  /** Namespace levels → URL segment (spec: %1F-joined). */
  private def enc(levels: String*): String =
    java.net.URLEncoder.encode(levels.mkString(""), "UTF-8")

  override def beforeAll(): Unit = {
    sql("CREATE NAMESPACE g.rest")
    sql("CREATE NAMESPACE g.rest.main.db")
    sql("CREATE TABLE g.rest.main.db.t (id INT, v STRING)")
    sql("INSERT INTO g.rest.main.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sql("CREATE TABLE g.rest.main.db.u (k INT)")
    sql("INSERT INTO g.rest.main.db.u VALUES (10)")
    sql("CALL g.system.create_tag('rest', 'v1', 'main')")
    sql("CREATE NAMESPACE g.rest.dev") // zero-copy branch
    sql("INSERT INTO g.rest.dev.db.t VALUES (4, 'd')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rest")
    server = IcebergRestServer.start(GraftRepo.open(root),
      Files.createTempDirectory("graft-rest-exports"), Some(spark))
    base = server.uri
  }

  override def afterAll(): Unit = {
    if (server != null) server.close()
    spark.stop()
  }

  test("config endpoint answers the spec shape") {
    val (code, body) = get("/v1/config")
    code shouldBe 200
    body.has("defaults") shouldBe true
    body.has("overrides") shouldBe true
  }

  test("namespace walk: refs at the top level, dbs under a ref, " +
    "identifiers under a db") {
    val (c1, roots) = get("/v1/namespaces")
    c1 shouldBe 200
    val tops = roots.get("namespaces").asScala()
    tops should contain allOf (Seq("main"), Seq("dev"), Seq("v1"))

    val (c2, dbs) = get(s"/v1/namespaces?parent=${enc("main")}")
    c2 shouldBe 200
    dbs.get("namespaces").asScala() shouldBe
      Seq(Seq("main", "db"))

    val (c3, ids) = get(s"/v1/namespaces/${enc("main", "db")}/tables")
    c3 shouldBe 200
    val names = {
      val it = ids.get("identifiers").elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(_.get("name").asText()).toSeq
    }
    names.sorted shouldBe Seq("t", "u")

    val (c4, ns) = get(s"/v1/namespaces/${enc("main")}")
    c4 shouldBe 200
    ns.get("properties").get("graft.kind").asText() shouldBe "branch"
    ns.get("properties").has("graft.head") shouldBe true
  }

  private implicit class NsIter(it: JsonNode) {
    def asScala(): Seq[Seq[String]] = {
      val e = it.elements()
      Iterator.continually(e).takeWhile(_.hasNext).map(_.next())
        .map { arr =>
          val ee = arr.elements()
          Iterator.continually(ee).takeWhile(_.hasNext)
            .map(_.next().asText()).toSeq
        }.toSeq
    }
  }

  /** loadTable → import the served metadata-location → rows. */
  private def loadRows(ref: String, table: String): (JsonNode, Seq[(Int, String)]) = {
    val (code, body) = get(s"/v1/namespaces/${enc(ref, "db")}/tables/$table")
    withClue(body.toString) { code shouldBe 200 }
    val loc = body.get("metadata-location").asText()
    val view = "rest_" + java.util.UUID.randomUUID().toString.take(8)
    sql(s"CALL g.system.iceberg_import('$loc', '$view')")
    val rows = spark.table(view).collect()
      .map(r => (r.getInt(0), if (r.schema.length > 1) r.getString(1) else ""))
      .toSeq.sorted
    (body, rows)
  }

  test("loadTable serves real metadata an independent Iceberg reader " +
    "round-trips; branch and tag refs see their own versions") {
    val (body, rows) = loadRows("main", "t")
    rows shouldBe Seq((1, "a"), (2, "b"), (3, "c"))
    body.get("metadata").get("format-version").asInt() should be >= 1
    body.get("metadata").has("current-snapshot-id") shouldBe true
    java.nio.file.Paths.get(
      body.get("metadata-location").asText()).toFile.exists() shouldBe true

    val (_, devRows) = loadRows("dev", "t")
    devRows shouldBe Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"))

    val (_, tagRows) = loadRows("v1", "t")
    tagRows shouldBe Seq((1, "a"), (2, "b"), (3, "c"))
  }

  test("re-serve is memoized; DML re-exports at the next version and " +
    "the old metadata stays readable in place") {
    val (b1, _) = loadRows("main", "u")
    val (b2, _) = loadRows("main", "u")
    b2.get("metadata-location").asText() shouldBe
      b1.get("metadata-location").asText()

    sql("INSERT INTO g.rest.main.db.u VALUES (20)")
    val (b3, rows) = loadRows("main", "u")
    rows.map(_._1) shouldBe Seq(10, 20)
    b3.get("metadata-location").asText() should not be
      b1.get("metadata-location").asText()
    // an external reader mid-poll on the OLD location keeps working
    java.nio.file.Paths.get(
      b1.get("metadata-location").asText()).toFile.exists() shouldBe true
  }

  test("warehouse mode: config?warehouse hands out the prefix, prefixed " +
    "routes serve every repo under the root, missing prefix is actionable") {
    sql("CREATE NAMESPACE g.wh2")
    sql("CREATE NAMESPACE g.wh2.main.db")
    sql("CREATE TABLE g.wh2.main.db.z (a INT)")
    sql("INSERT INTO g.wh2.main.db.z VALUES (42)")
    val reposRoot = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"))
    val srv2 = IcebergRestServer.startWarehouse(reposRoot,
      Files.createTempDirectory("graft-wh-exports"), Some(spark))
    def getAt(path: String): (Int, JsonNode) = {
      val r = http.send(
        HttpRequest.newBuilder(URI.create(s"${srv2.uri}$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), mapper.readTree(r.body()))
    }
    try {
      val (c0, cfg) = getAt("/v1/config?warehouse=wh2")
      c0 shouldBe 200
      cfg.get("overrides").get("prefix").asText() shouldBe "wh2"
      getAt("/v1/config?warehouse=nope")._1 shouldBe 404

      // both repos reachable through their prefixes, fully isolated
      val (c1, body) = getAt(
        s"/v1/wh2/namespaces/${enc("main", "db")}/tables/z")
      withClue(body.toString) { c1 shouldBe 200 }
      val view = "wh_" + java.util.UUID.randomUUID().toString.take(8)
      sql(s"CALL g.system.iceberg_import(" +
        s"'${body.get("metadata-location").asText()}', '$view')")
      spark.table(view).collect().map(_.getInt(0)).toSeq shouldBe Seq(42)

      val (c2, roots) = getAt("/v1/rest/namespaces")
      c2 shouldBe 200
      roots.get("namespaces").asScala() should contain (Seq("main"))

      // unprefixed namespace routes don't resolve in warehouse mode
      val (c3, err) = getAt("/v1/namespaces")
      c3 shouldBe 404
      err.get("error").get("message").asText() should include ("warehouse")
    } finally srv2.close()
  }

  test("HEAD table: 200 when present, bodyless 404 when missing") {
    def head(path: String): Int = http.send(
      HttpRequest.newBuilder(URI.create(s"$base$path"))
        .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString()).statusCode()
    head(s"/v1/namespaces/${enc("main", "db")}/tables/t") shouldBe 200
    head(s"/v1/namespaces/${enc("main", "db")}/tables/nope") shouldBe 404
  }

  test("concurrent loadTable during live DML always serves a complete, " +
    "self-consistent metadata version") {
    sql("CREATE TABLE g.rest.main.db.c (n INT)")
    sql("INSERT INTO g.rest.main.db.c VALUES (0)")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readers = (1 to 4).map { _ =>
      new Thread(() => {
        while (!stop.get()) {
          val (code, body) =
            get(s"/v1/namespaces/${enc("main", "db")}/tables/c")
          if (code != 200) bad.add(s"$code: $body")
          else {
            // the inline metadata must be a complete table-metadata doc
            // whose location exists — never a torn/partial publish
            if (!body.get("metadata").has("current-snapshot-id") ||
              !java.nio.file.Files.exists(java.nio.file.Paths.get(
                body.get("metadata-location").asText())))
              bad.add(s"torn: $body")
          }
        }
      })
    }
    readers.foreach(_.start())
    try (1 to 6).foreach { i =>
      sql(s"INSERT INTO g.rest.main.db.c VALUES ($i)")
    } finally {
      stop.set(true); readers.foreach(_.join(20000))
    }
    bad.asScalaQ shouldBe empty
    // after the dust settles the newest serve reflects the final state
    val (_, fin) = get(s"/v1/namespaces/${enc("main", "db")}/tables/c")
    val view = "cc_" + java.util.UUID.randomUUID().toString.take(8)
    sql(s"CALL g.system.iceberg_import(" +
      s"'${fin.get("metadata-location").asText()}', '$view')")
    spark.table(view).collect().map(_.getInt(0)).toSeq.sorted shouldBe
      (0 to 6)
  }

  private implicit class QOps(q: java.util.concurrent.ConcurrentLinkedQueue[String]) {
    def asScalaQ: Seq[String] = {
      val it = q.iterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    }
  }

  test("metrics reports are accepted and discarded, even read-only") {
    val r = http.send(HttpRequest.newBuilder(
      URI.create(s"$base/v1/namespaces/${enc("main", "db")}/tables/t/metrics"))
      .POST(HttpRequest.BodyPublishers.ofString(
        """{"report-type":"scan-report","table-name":"db.t"}"""))
      .build(), HttpResponse.BodyHandlers.ofString())
    r.statusCode() shouldBe 204
    // unknown table still 404s (a report for nothing is a client bug)
    http.send(HttpRequest.newBuilder(
      URI.create(s"$base/v1/namespaces/${enc("main", "db")}/tables/zz/metrics"))
      .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
      HttpResponse.BodyHandlers.ofString()).statusCode() shouldBe 404
  }

  test("spec-shaped errors: 404 NoSuchTable/NoSuchNamespace, 405 on " +
    "writes") {
    val (c1, e1) = get(s"/v1/namespaces/${enc("main", "db")}/tables/nope")
    c1 shouldBe 404
    e1.get("error").get("type").asText() shouldBe "NoSuchTableException"
    e1.get("error").get("code").asInt() shouldBe 404

    val (c2, e2) = get(s"/v1/namespaces/${enc("nobranch")}")
    c2 shouldBe 404
    e2.get("error").get("type").asText() shouldBe "NoSuchNamespaceException"

    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"$base/v1/namespaces"))
        .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
      HttpResponse.BodyHandlers.ofString())
    r.statusCode() shouldBe 405
    mapper.readTree(r.body()).get("error").get("type").asText() shouldBe
      "UnsupportedOperationException"
  }

  // ---- write path (writable = true) ----------------------------------

  import org.apache.avro.Schema
  import org.apache.avro.file.DataFileWriter
  import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

  private val wEntrySchema = new Schema.Parser().parse(
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
      |{"name":"file_size_in_bytes","type":"long"}]}}]}"""
      .stripMargin.replaceAll("\n", ""))

  private val wListSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int"},
      |{"name":"sequence_number","type":"long"},
      |{"name":"min_sequence_number","type":"long"},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null}]}"""
      .stripMargin.replaceAll("\n", ""))

  /** What an external engine's commit stages: one ADDED-entries data
    * manifest + a manifest list naming it, both fresh avro files. */
  private def stageWriterCommit(scratch: java.nio.file.Path,
      snapId: Long, files: Seq[java.nio.file.Path],
      deleteContent: Option[Int] = None): java.nio.file.Path = {
    val m = scratch.resolve(s"m-$snapId.avro")
    val mw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](wEntrySchema))
    mw.setMeta("format-version", "2")
    mw.create(wEntrySchema, m.toFile)
    try files.foreach { p =>
      val dfS = wEntrySchema.getField("data_file").schema()
      val df = new GenericData.Record(dfS)
      df.put("content", deleteContent.getOrElse(0))
      df.put("file_path", p.toUri.toString)
      df.put("file_format", "PARQUET")
      df.put("partition",
        new GenericData.Record(dfS.getField("partition").schema()))
      df.put("record_count", 1L)
      df.put("file_size_in_bytes", Files.size(p))
      val e = new GenericData.Record(wEntrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", snapId)
      e.put("data_file", df)
      mw.append(e)
    } finally mw.close()
    val list = scratch.resolve(s"snap-$snapId.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](wListSchema))
    lw.setMeta("format-version", "2")
    lw.create(wListSchema, list.toFile)
    try {
      val r = new GenericData.Record(wListSchema)
      r.put("manifest_path", m.toUri.toString)
      r.put("manifest_length", Files.size(m))
      r.put("partition_spec_id", 0)
      r.put("content", if (deleteContent.isDefined) 1 else 0)
      r.put("sequence_number", 1L)
      r.put("min_sequence_number", 1L)
      r.put("added_snapshot_id", snapId)
      lw.append(r)
    } finally lw.close()
    list
  }

  private def writeOneParquet(df: org.apache.spark.sql.DataFrame,
      out: java.nio.file.Path): Unit = {
    val tmp = Files.createTempDirectory("rest-writer")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    import scala.jdk.CollectionConverters._
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(out.getParent)
    Files.move(part, out)
  }

  private def send(method: String, path: String, body: String,
      srv: IcebergRestServer): (Int, JsonNode) = {
    val b = HttpRequest.newBuilder(URI.create(s"${srv.uri}$path"))
    val r = http.send(
      (method match {
        case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
        case "DELETE" => b.DELETE()
      }).build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(),
      if (r.body().isEmpty) mapper.createObjectNode() else mapper.readTree(r.body()))
  }

  /** CommitTableRequest JSON for an append of `listLoc` against the
    * served `meta` (requirements echo the served uuid + main ref —
    * exactly what iceberg-core's UpdateRequirements would build). */
  private def commitBody(meta: JsonNode, snapId: Long,
      listLoc: java.nio.file.Path): String = {
    val refSnap = Option(meta.get("refs")).flatMap(r => Option(r.get("main")))
      .map(_.get("snapshot-id").asLong())
    val assertRef = refSnap.map(s => s""","snapshot-id":$s""").getOrElse("")
    s"""{"requirements":[
       |{"type":"assert-table-uuid","uuid":"${meta.get("table-uuid").asText()}"},
       |{"type":"assert-ref-snapshot-id","ref":"main"$assertRef}],
       |"updates":[
       |{"action":"add-snapshot","snapshot":{"snapshot-id":$snapId,
       |"timestamp-ms":1700000000000,"schema-id":0,
       |"manifest-list":"${listLoc.toUri}",
       |"summary":{"operation":"append"}}},
       |{"action":"set-snapshot-ref","ref-name":"main",
       |"snapshot-id":$snapId,"type":"branch"}]}""".stripMargin
      .replaceAll("\n", "")
  }

  test("tag ref WRITES over REST: set-snapshot-ref type=tag creates a " +
    "graft tag at the commit serving that snapshot, the refs map serves " +
    "it back, engines time-travel by name; duplicate at a different " +
    "snapshot 409s, re-create at the same one is idempotent, " +
    "remove-snapshot-ref drops it, named branch refs still refuse") {
    sql("CREATE NAMESPACE g.restt")
    sql("CREATE TABLE g.restt.main.db.t (id INT, v STRING)")
    sql("INSERT INTO g.restt.main.db.t VALUES (1, 'a')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restt")
    // maxSnapshots > 1: tag refs only stamp for snapshots inside the
    // served history window (read-side contract) — a depth-1 server
    // forgets a tag the moment main moves past it
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      Files.createTempDirectory("graft-restt-exports"), Some(spark),
      maxSnapshots = 5, writable = true)
    try {
      def served(): JsonNode =
        get(s"/v1/namespaces/${enc("main", "db")}/tables/t", srv)
          ._2.get("metadata")
      val sid0 = served().get("refs").get("main").get("snapshot-id").asLong()
      // CREATE TAG at the current snapshot — the exact commit iceberg-
      // core's ManageSnapshots.createTag posts (requirement: absent ref)
      def tagBody(name: String, sid: Long, withReq: Boolean): String = {
        val req = if (withReq)
          s"""{"type":"assert-ref-snapshot-id","ref":"$name"}""" else ""
        s"""{"requirements":[$req],"updates":[
           |{"action":"set-snapshot-ref","ref-name":"$name",
           |"snapshot-id":$sid,"type":"tag"}]}"""
          .stripMargin.replaceAll("\n", "")
      }
      val (c1, e1) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/t",
        tagBody("v1", sid0, withReq = true), srv)
      withClue(e1.toString) { c1 shouldBe 200 }
      val refs1 = served().get("refs")
      refs1.get("v1").get("snapshot-id").asLong() shouldBe sid0
      refs1.get("v1").get("type").asText() shouldBe "tag"
      GraftRepo.open(root).tagExists("v1") shouldBe true

      // move main forward; the tag keeps serving the old state by name
      sql("INSERT INTO g.restt.main.db.t VALUES (2, 'b')")
      sql("SELECT id FROM g.restt.main.db.t VERSION AS OF 'v1'")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(1)
      val sid2 = served().get("refs").get("main").get("snapshot-id").asLong()
      (sid2 == sid0) shouldBe false

      // duplicate at a DIFFERENT snapshot → 409 AlreadyExists; the
      // absent-ref requirement now fails first when posted → 409 too
      val (cd, ed) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/t",
        tagBody("v1", sid2, withReq = false), srv)
      cd shouldBe 409
      ed.get("error").get("type").asText() shouldBe "AlreadyExistsException"
      send("POST", s"/v1/namespaces/${enc("main", "db")}/tables/t",
        tagBody("v1", sid2, withReq = true), srv)._1 shouldBe 409
      // idempotent re-create at the SAME (now prior) snapshot — the
      // history walk resolves sid0 to the already-tagged commit
      send("POST", s"/v1/namespaces/${enc("main", "db")}/tables/t",
        tagBody("v1", sid0, withReq = false), srv)._1 shouldBe 200
      // a SECOND tag at the prior snapshot walks history to an ancestor
      send("POST", s"/v1/namespaces/${enc("main", "db")}/tables/t",
        tagBody("v0", sid0, withReq = false), srv)._1 shouldBe 200
      served().get("refs").get("v0").get("snapshot-id").asLong() shouldBe sid0
      // idempotency survives an UNRELATED commit moving head: the walk
      // now resolves a different commit with the identical table state,
      // and the retry must still be a no-op, not a 409
      sql("CREATE TABLE g.restt.main.db.other (id INT)")
      send("POST", s"/v1/namespaces/${enc("main", "db")}/tables/t",
        tagBody("v0", sid0, withReq = false), srv)._1 shouldBe 200
      // v1 (same ancestor commit) also stays stamped across the move
      served().get("refs").get("v1").get("snapshot-id").asLong() shouldBe sid0

      // remove-snapshot-ref drops the tag; refs map and repo both agree
      val (cr, er) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/t",
        """{"requirements":[],"updates":[
          |{"action":"remove-snapshot-ref","ref-name":"v1"}]}"""
          .stripMargin.replaceAll("\n", ""), srv)
      withClue(er.toString) { cr shouldBe 200 }
      Option(served().get("refs").get("v1")) shouldBe None
      GraftRepo.open(root).tagExists("v1") shouldBe false
      // named BRANCH refs stay repo-level: per-table write refuses
      send("POST", s"/v1/namespaces/${enc("main", "db")}/tables/t",
        s"""{"requirements":[],"updates":[
           |{"action":"set-snapshot-ref","ref-name":"side",
           |"snapshot-id":$sid2,"type":"branch"}]}"""
          .stripMargin.replaceAll("\n", ""), srv)._1 shouldBe 400
    } finally srv.close()
  }

  test("tag ref WRITES resolve a snapshot reachable only through a " +
    "merge's SECOND parent: the walk covers all parents, so a state an " +
    "engine observed on the merged-in branch stays taggable") {
    sql("CREATE NAMESPACE g.restm")
    sql("CREATE TABLE g.restm.main.db.t (id INT)")
    sql("INSERT INTO g.restm.main.db.t VALUES (1)")
    sql("CREATE TABLE g.restm.main.db.other (k INT)")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restm")
    val repo = GraftRepo.open(root)
    // dev advances t TWICE (the intermediate state is the target);
    // main advances an unrelated table so the merge is a TRUE merge
    // commit and dev's commits sit only on the second-parent path
    sql("CREATE NAMESPACE g.restm.dev")
    sql("INSERT INTO g.restm.dev.db.t VALUES (2)")
    val sidMid = graft.versioned.IcebergExport.icebergSnapshotId(
      repo.resolve("dev").tables("db/t"))
    sql("INSERT INTO g.restm.dev.db.t VALUES (3)")
    sql("INSERT INTO g.restm.main.db.other VALUES (10)")
    sql("CALL g.system.merge('restm', 'dev', 'main')")
    repo.resolve("main").parents.size shouldBe 2
    val srv = IcebergRestServer.start(repo,
      Files.createTempDirectory("graft-restm-exports"), Some(spark),
      maxSnapshots = 5, writable = true)
    try {
      // first-parent-only resolution 400'd this as "not a version"
      val (c, e) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/t",
        s"""{"requirements":[],"updates":[
           |{"action":"set-snapshot-ref","ref-name":"midway",
           |"snapshot-id":$sidMid,"type":"tag"}]}"""
          .stripMargin.replaceAll("\n", ""), srv)
      withClue(e.toString) { c shouldBe 200 }
      repo.tagExists("midway") shouldBe true
      sql("SELECT id FROM g.restm.main.db.t VERSION AS OF 'midway'")
        .collect().map(_.getInt(0)).toSet shouldBe Set(1, 2)
      // a snapshot id nobody ever served still refuses
      send("POST", s"/v1/namespaces/${enc("main", "db")}/tables/t",
        s"""{"requirements":[],"updates":[
           |{"action":"set-snapshot-ref","ref-name":"ghost",
           |"snapshot-id":123456789,"type":"tag"}]}"""
          .stripMargin.replaceAll("\n", ""), srv)._1 shouldBe 400
    } finally srv.close()
  }

  test("writable server: REST createNamespace + createTable + two append " +
    "commits (zero-copy staged + copy-in external), read back via graft " +
    "SQL and an independent import of the refreshed metadata") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restw")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restw")
    val exports = Files.createTempDirectory("graft-restw-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-writer-scratch")
    try {
      // create a db namespace, then an unpartitioned table in it
      val (cn, _) = send("POST", "/v1/namespaces",
        """{"namespace":["main","wdb"],"properties":{"team":"x"}}""", srv)
      cn shouldBe 200
      get(s"/v1/namespaces?parent=${enc("main")}", srv)._2
        .get("namespaces").toString should include ("wdb")
      val (ct, created) = send("POST",
        s"/v1/namespaces/${enc("main", "wdb")}/tables",
        """{"name":"w","schema":{"type":"struct","schema-id":0,"fields":[
          |{"id":1,"name":"id","required":false,"type":"int"},
          |{"id":2,"name":"v","required":false,"type":"string"}]}}"""
          .stripMargin.replaceAll("\n", ""), srv)
      withClue(created.toString) { ct shouldBe 200 }
      val meta0 = created.get("metadata")
      val uuid0 = meta0.get("table-uuid").asText()
      val stageDir = java.nio.file.Paths.get(URI.create(
        meta0.get("properties").get("write.data.path").asText() + "/"))

      // commit 1: writer honors write.data.path → ZERO-COPY registration
      val f1 = stageDir.resolve("w1.parquet")
      writeOneParquet(Seq((1, "a"), (2, "b")).toDF("id", "v"), f1)
      val list1 = stageWriterCommit(scratch, 9001L, Seq(f1))
      val (c1, resp1) = send("POST",
        s"/v1/namespaces/${enc("main", "wdb")}/tables/w",
        commitBody(meta0, 9001L, list1), srv)
      withClue(resp1.toString) { c1 shouldBe 200 }
      sql("SELECT id, v FROM g.restw.main.wdb.w ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (2, "b"))
      // zero-copy: the staged file itself is the registered file
      val repo = GraftRepo.open(root)
      val snap1 = repo.snapshot(repo.resolve("main").tables("wdb/w"))
      snap1.files.map(f =>
        java.nio.file.Paths.get(repo.dataLocation(f.path).stripPrefix("file:"))
          .normalize.toString) should contain (f1.toString)
      snap1.files.foreach { f =>
        f.rows should be > 0L
        f.min should not be empty // footer stats registered
      }
      val meta1 = resp1.get("metadata")
      meta1.get("table-uuid").asText() shouldBe uuid0 // stable identity
      meta1.get("refs").get("main").get("snapshot-id").asLong() shouldBe
        meta1.get("current-snapshot-id").asLong()

      // commit 2: a file OUTSIDE the data plane but under the table's
      // served location (a writer ignoring write.data.path) → copy-in
      // fallback; posted state = base ∪ new (a true append superset)
      val ext = exports.resolve("main/wdb/w/data/ext.parquet")
      writeOneParquet(Seq((3, "c")).toDF("id", "v"), ext)
      val list2 = stageWriterCommit(scratch, 9002L, Seq(f1, ext))
      val (c2, resp2) = send("POST",
        s"/v1/namespaces/${enc("main", "wdb")}/tables/w",
        commitBody(meta1, 9002L, list2), srv)
      withClue(resp2.toString) { c2 shouldBe 200 }
      sql("SELECT id FROM g.restw.main.wdb.w ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(1, 2, 3)

      // the refreshed metadata round-trips through the independent reader
      val view = "w_" + java.util.UUID.randomUUID().toString.take(8)
      sql(s"CALL g.system.iceberg_import(" +
        s"'${resp2.get("metadata-location").asText()}', '$view')")
      spark.table(view).orderBy("id").collect().map(_.getInt(0)).toSeq shouldBe
        Seq(1, 2, 3)

      // stale requirements (commit 1's base) now conflict: 409
      val list3 = stageWriterCommit(scratch, 9003L, Seq(f1, ext))
      val (c3, e3) = send("POST",
        s"/v1/namespaces/${enc("main", "wdb")}/tables/w",
        commitBody(meta0, 9003L, list3), srv)
      c3 shouldBe 409
      e3.get("error").get("type").asText() shouldBe "CommitFailedException"

      // a posted path outside both the data plane and the table's own
      // location is refused — the catalog must not read arbitrary
      // server-local files into the queryable data plane
      val rogue = scratch.resolve("rogue.parquet")
      writeOneParquet(Seq((99, "z")).toDF("id", "v"), rogue)
      val copiedBase = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(resp2.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val listR = stageWriterCommit(scratch, 9004L, copiedBase :+ rogue)
      val (cr, er) = send("POST",
        s"/v1/namespaces/${enc("main", "wdb")}/tables/w",
        commitBody(resp2.get("metadata"), 9004L, listR), srv)
      cr shouldBe 400
      er.get("error").get("message").asText() should include ("staged")

      // malformed JSON body is the client's error: spec-shaped 400
      val (cm, em) = send("POST",
        s"/v1/namespaces/${enc("main", "wdb")}/tables/w", "not-json", srv)
      cm shouldBe 400
      em.get("error").get("type").asText() shouldBe "ValidationException"
    } finally { srv.close(); }
  }

  private def get(path: String, srv: IcebergRestServer): (Int, JsonNode) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"${srv.uri}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), mapper.readTree(r.body()))
  }

  test("concurrent REST commits against one served base: exactly one " +
    "lands, every loser answers 409, no rows lost or duplicated") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restc")
    sql("CREATE NAMESPACE g.restc.main.db")
    sql("CREATE TABLE g.restc.main.db.c (id INT)")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restc")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      Files.createTempDirectory("graft-restc-exports"), Some(spark),
      writable = true)
    val scratch = Files.createTempDirectory("rest-race")
    try {
      val meta0 = get(s"/v1/namespaces/${enc("main", "db")}/tables/c", srv)
        ._2.get("metadata")
      val stageDir = java.nio.file.Paths.get(URI.create(
        meta0.get("properties").get("write.data.path").asText() + "/"))
      // every writer stages against the SAME served base
      val staged = (0 until 4).map { i =>
        val f = stageDir.resolve(s"race-$i.parquet")
        writeOneParquet(Seq(100 + i).toDF("id"), f)
        stageWriterCommit(Files.createDirectories(scratch.resolve(s"w$i")),
          9200L + i, Seq(f))
      }
      val codes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val threads = staged.zipWithIndex.map { case (list, i) =>
        new Thread(() => codes.add(send("POST",
          s"/v1/namespaces/${enc("main", "db")}/tables/c",
          commitBody(meta0, 9200L + i, list), srv)._1))
      }
      threads.foreach(_.start()); threads.foreach(_.join(30000))
      val results = {
        val it = codes.iterator()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
      }
      results.count(_ == 200) shouldBe 1
      results.count(_ == 409) shouldBe 3
      sql("SELECT count(*) FROM g.restc.main.db.c").collect()
        .head.getLong(0) shouldBe 1L
    } finally srv.close()
  }

  test("writable server: loud refusals — unknown summaries, delete " +
    "files, schema updates, tag commits, partitioned commits; drop works") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restr")
    sql("CREATE NAMESPACE g.restr.main.db")
    sql("CREATE TABLE g.restr.main.db.p (id INT, cat STRING) PARTITIONED BY (cat)")
    sql("INSERT INTO g.restr.main.db.p VALUES (1, 'a')")
    sql("CREATE TABLE g.restr.main.db.d (id INT)")
    sql("INSERT INTO g.restr.main.db.d VALUES (7)")
    sql("CALL g.system.create_tag('restr', 'pin', 'main')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restr")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      Files.createTempDirectory("graft-restr-exports"), Some(spark),
      writable = true)
    val scratch = Files.createTempDirectory("rest-refusals")
    try {
      val meta = get(s"/v1/namespaces/${enc("main", "db")}/tables/d", srv)
        ._2.get("metadata")
      val f = scratch.resolve("x.parquet")
      writeOneParquet(Seq(8).toDF("id"), f)

      // an UNKNOWN summary operation refuses loudly (replace is
      // accepted as engine compaction since r14 — see the dedicated
      // operation=replace tests)
      val list = stageWriterCommit(scratch, 9101L, Seq(f))
      val unknownOp = commitBody(meta, 9101L, list)
        .replace("\"operation\":\"append\"", "\"operation\":\"expire\"")
      val (co, eo) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/d", unknownOp, srv)
      co shouldBe 400
      eo.get("error").get("message").asText() should
        include ("unsupported commit operation")

      // an APPEND may not drop base files (the engine must say overwrite)
      val dropAsAppend = commitBody(meta, 9105L,
        stageWriterCommit(scratch, 9105L, Seq(f)))
      val (ca, ea) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/d", dropAsAppend, srv)
      ca shouldBe 400
      ea.get("error").get("message").asText() should include ("not an append")

      // delete files in the posted snapshot
      val delList = stageWriterCommit(scratch, 9102L,
        Seq(f), deleteContent = Some(1))
      send("POST", s"/v1/namespaces/${enc("main", "db")}/tables/d",
        commitBody(meta, 9102L, delList), srv)._1 shouldBe 400

      // schema evolution over REST is SUPPORTED (r12) — but a malformed
      // schema node still refuses loudly instead of 500ing
      val (cs, es) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/d",
        """{"requirements":[],"updates":[{"action":"add-schema","schema":{}}]}""",
        srv)
      cs shouldBe 400
      es.get("error").get("message").asText() should include ("fields")

      // commits against a tag namespace
      send("POST", s"/v1/namespaces/${enc("pin", "db")}/tables/d",
        commitBody(meta, 9103L, list), srv)._1 shouldBe 400

      // partitioned commits must declare every spec field in the
      // manifest's partition record — an empty record refuses loudly
      val metaP = get(s"/v1/namespaces/${enc("main", "db")}/tables/p", srv)
        ._2.get("metadata")
      val stageP = java.nio.file.Paths.get(URI.create(
        metaP.get("properties").get("write.data.path").asText() + "/"))
      val fp = stageP.resolve("p-noval.parquet")
      writeOneParquet(Seq((2, "b")).toDF("id", "cat"), fp)
      val basePFiles = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(get(
          s"/v1/namespaces/${enc("main", "db")}/tables/p", srv)
          ._2.get("metadata-location").asText())).dataPaths
      val listP = stageWriterCommit(scratch, 9104L,
        basePFiles.map(java.nio.file.Paths.get(_)) :+ fp)
      val (cp, ep) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/p",
        commitBody(metaP, 9104L, listP), srv)
      cp shouldBe 400
      ep.get("error").get("message").asText() should include ("partition value")

      // duplicate create → 409 AlreadyExists
      val (cd, ed) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables",
        """{"name":"d","schema":{"type":"struct","schema-id":0,"fields":[
          |{"id":1,"name":"id","required":false,"type":"int"}]}}"""
          .stripMargin.replaceAll("\n", ""), srv)
      cd shouldBe 409
      ed.get("error").get("type").asText() shouldBe "AlreadyExistsException"

      // rename: a metadata-only commit-map re-key (same-branch only).
      // malformed idents refuse
      send("POST", "/v1/tables/rename",
        """{"source":{},"destination":{}}""", srv)._1 shouldBe 400
      send("POST", "/v1/tables/rename",
        """{"source":{"namespace":["main","db"],"name":"d"},
          |"destination":{"namespace":["main","db"],"name":"d2"}}"""
          .stripMargin.replaceAll("\n", ""), srv)._1 shouldBe 204
      get(s"/v1/namespaces/${enc("main", "db")}/tables/d", srv)
        ._1 shouldBe 404
      get(s"/v1/namespaces/${enc("main", "db")}/tables/d2", srv)
        ._1 shouldBe 200
      sql("SELECT id FROM g.restr.main.db.d2").collect()
        .map(_.getInt(0)).toSeq shouldBe Seq(7)
      // destination collision → 409 AlreadyExists
      val (rnc, rne) = send("POST", "/v1/tables/rename",
        """{"source":{"namespace":["main","db"],"name":"d2"},
          |"destination":{"namespace":["main","db"],"name":"p"}}"""
          .stripMargin.replaceAll("\n", ""), srv)
      rnc shouldBe 409
      rne.get("error").get("type").asText() shouldBe "AlreadyExistsException"
      // cross-branch rename refuses
      send("POST", "/v1/tables/rename",
        """{"source":{"namespace":["main","db"],"name":"d2"},
          |"destination":{"namespace":["elsewhere","db"],"name":"d3"}}"""
          .stripMargin.replaceAll("\n", ""), srv)._1 shouldBe 400
      // round-trip back so the branch/drop assertions below see "d"
      send("POST", "/v1/tables/rename",
        """{"source":{"namespace":["main","db"],"name":"d2"},
          |"destination":{"namespace":["main","db"],"name":"d"}}"""
          .stripMargin.replaceAll("\n", ""), srv)._1 shouldBe 204
      // rename INTO a fresh db registers the implicit namespace, so
      // namespace-walking clients discover the moved table
      send("POST", "/v1/tables/rename",
        """{"source":{"namespace":["main","db"],"name":"d"},
          |"destination":{"namespace":["main","db2"],"name":"dx"}}"""
          .stripMargin.replaceAll("\n", ""), srv)._1 shouldBe 204
      sql("SHOW NAMESPACES IN g.restr.main").collect()
        .map(_.getString(0)) should contain ("restr.main.db2")
      sql("SELECT id FROM g.restr.main.db2.dx").collect()
        .map(_.getInt(0)).toSeq shouldBe Seq(7)
      send("POST", "/v1/tables/rename",
        """{"source":{"namespace":["main","db2"],"name":"dx"},
          |"destination":{"namespace":["main","db"],"name":"d"}}"""
          .stripMargin.replaceAll("\n", ""), srv)._1 shouldBe 204

      // REST branch creation + drop table
      send("POST", "/v1/namespaces",
        """{"namespace":["feat"],"properties":{"from":"main"}}""", srv)
        ._1 shouldBe 200
      get(s"/v1/namespaces/${enc("feat", "db")}/tables/d", srv)
        ._1 shouldBe 200
      send("DELETE",
        s"/v1/namespaces/${enc("feat", "db")}/tables/d", "", srv)
        ._1 shouldBe 204
      get(s"/v1/namespaces/${enc("feat", "db")}/tables/d", srv)
        ._1 shouldBe 404
      // main untouched by the feat drop
      sql("SELECT id FROM g.restr.main.db.d").collect()
        .map(_.getInt(0)).toSeq shouldBe Seq(7)
    } finally srv.close()
  }

  test("writable server: overwrite commit lands an external CoW rewrite " +
    "(dropped file leaves, rewritten file registers zero-copy, kept file " +
    "untouched); delete commit drops a whole file; stale rewrite → 409") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restow")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restow")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      Files.createTempDirectory("graft-restow-exports"), Some(spark),
      writable = true)
    val scratch = Files.createTempDirectory("rest-ow-scratch")
    try {
      send("POST", "/v1/namespaces",
        """{"namespace":["main","odb"]}""", srv)._1 shouldBe 200
      val (ct, created) = send("POST",
        s"/v1/namespaces/${enc("main", "odb")}/tables",
        """{"name":"o","schema":{"type":"struct","schema-id":0,"fields":[
          |{"id":1,"name":"id","required":false,"type":"int"},
          |{"id":2,"name":"v","required":false,"type":"string"}]}}"""
          .stripMargin.replaceAll("\n", ""), srv)
      withClue(created.toString) { ct shouldBe 200 }
      val meta0 = created.get("metadata")
      val stageDir = java.nio.file.Paths.get(URI.create(
        meta0.get("properties").get("write.data.path").asText() + "/"))

      // two appends → two data files
      val f1 = stageDir.resolve("o1.parquet")
      writeOneParquet(Seq((1, "a"), (2, "b")).toDF("id", "v"), f1)
      val (c1, r1) = send("POST",
        s"/v1/namespaces/${enc("main", "odb")}/tables/o",
        commitBody(meta0, 9301L, stageWriterCommit(scratch, 9301L, Seq(f1))),
        srv)
      withClue(r1.toString) { c1 shouldBe 200 }
      val f2 = stageDir.resolve("o2.parquet")
      writeOneParquet(Seq((3, "c"), (4, "d")).toDF("id", "v"), f2)
      val (c2, r2) = send("POST",
        s"/v1/namespaces/${enc("main", "odb")}/tables/o",
        commitBody(r1.get("metadata"), 9302L,
          stageWriterCommit(scratch, 9302L, Seq(f1, f2))), srv)
      withClue(r2.toString) { c2 shouldBe 200 }

      // the engine runs a CoW DELETE of id=3: f2 is rewritten to f2b,
      // the posted state is [f1, f2b] with an overwrite summary
      val base2 = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(r2.get("metadata-location").asText()))
      base2.dataPaths.size shouldBe 2
      val f2b = stageDir.resolve("o2-rewrite.parquet")
      writeOneParquet(Seq((4, "d")).toDF("id", "v"), f2b)
      val keptF1 = base2.dataPaths.map(java.nio.file.Paths.get(_))
        .find(_.getFileName.toString == "o1.parquet").get
      val owBody = commitBody(r2.get("metadata"), 9303L,
        stageWriterCommit(scratch, 9303L, Seq(keptF1, f2b)))
        .replace("\"operation\":\"append\"", "\"operation\":\"overwrite\"")
      val (c3, r3) = send("POST",
        s"/v1/namespaces/${enc("main", "odb")}/tables/o", owBody, srv)
      withClue(r3.toString) { c3 shouldBe 200 }
      sql("SELECT id, v FROM g.restow.main.odb.o ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (2, "b"), (4, "d"))
      // the rewrite is one graft commit; f1 stayed registered zero-copy
      val repo = GraftRepo.open(root)
      repo.headCommit("main").message should startWith ("rest: overwrite")
      val snap3 = repo.snapshot(repo.resolve("main").tables("odb/o"))
      snap3.files.size shouldBe 2
      snap3.files.map(f => java.nio.file.Paths.get(
        repo.dataLocation(f.path).stripPrefix("file:")).getFileName.toString)
        .toSet shouldBe Set("o1.parquet", "o2-rewrite.parquet")
      snap3.files.foreach(f => f.min should not be empty)
      // refreshed metadata round-trips through the independent reader
      val view = "ow_" + java.util.UUID.randomUUID().toString.take(8)
      sql(s"CALL g.system.iceberg_import(" +
        s"'${r3.get("metadata-location").asText()}', '$view')")
      spark.table(view).orderBy("id").collect().map(_.getInt(0)).toSeq shouldBe
        Seq(1, 2, 4)

      // a STALE rewrite (staged against the pre-overwrite base) conflicts
      val staleBody = commitBody(r2.get("metadata"), 9304L,
        stageWriterCommit(scratch, 9304L, Seq(keptF1, f2b)))
        .replace("\"operation\":\"append\"", "\"operation\":\"overwrite\"")
      val (cs, es) = send("POST",
        s"/v1/namespaces/${enc("main", "odb")}/tables/o", staleBody, srv)
      cs shouldBe 409
      es.get("error").get("type").asText() shouldBe "CommitFailedException"

      // delete operation: drop f1 wholesale, keep only the rewrite
      val base3 = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(r3.get("metadata-location").asText()))
      val keptF2b = base3.dataPaths.map(java.nio.file.Paths.get(_))
        .find(_.getFileName.toString == "o2-rewrite.parquet").get
      val delBody = commitBody(r3.get("metadata"), 9305L,
        stageWriterCommit(scratch, 9305L, Seq(keptF2b)))
        .replace("\"operation\":\"append\"", "\"operation\":\"delete\"")
      val (c4, r4) = send("POST",
        s"/v1/namespaces/${enc("main", "odb")}/tables/o", delBody, srv)
      withClue(r4.toString) { c4 shouldBe 200 }
      sql("SELECT id FROM g.restow.main.odb.o ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(4)
      repo.headCommit("main").message should startWith ("rest: delete")
    } finally srv.close()
  }

  /** Entry schema whose r102 partition record carries one OPTIONAL
    * string field `cat` — what a real engine posts for a table
    * partitioned by identity(cat). */
  private val wEntrySchemaCat = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |{"name":"content","type":"int"},
      |{"name":"file_path","type":"string"},
      |{"name":"file_format","type":"string"},
      |{"name":"partition","type":{"type":"record","name":"r102","fields":[
      |{"name":"cat","type":["null","string"],"default":null}]}},
      |{"name":"record_count","type":"long"},
      |{"name":"file_size_in_bytes","type":"long"}]}}]}"""
      .stripMargin.replaceAll("\n", ""))

  private def stageWriterCommitCat(scratch: java.nio.file.Path,
      snapId: Long, files: Seq[(java.nio.file.Path, Option[String])])
      : java.nio.file.Path = {
    val m = scratch.resolve(s"m-$snapId.avro")
    val mw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](wEntrySchemaCat))
    mw.setMeta("format-version", "2")
    mw.create(wEntrySchemaCat, m.toFile)
    try files.foreach { case (p, cat) =>
      val dfS = wEntrySchemaCat.getField("data_file").schema()
      val df = new GenericData.Record(dfS)
      df.put("content", 0)
      df.put("file_path", p.toUri.toString)
      df.put("file_format", "PARQUET")
      val part = new GenericData.Record(dfS.getField("partition").schema())
      cat.foreach(part.put("cat", _))
      df.put("partition", part)
      df.put("record_count", 1L)
      df.put("file_size_in_bytes", Files.size(p))
      val e = new GenericData.Record(wEntrySchemaCat)
      e.put("status", 1)
      e.put("snapshot_id", snapId)
      e.put("data_file", df)
      mw.append(e)
    } finally mw.close()
    val list = scratch.resolve(s"snap-$snapId.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](wListSchema))
    lw.setMeta("format-version", "2")
    lw.create(wListSchema, list.toFile)
    try {
      val r = new GenericData.Record(wListSchema)
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

  test("writable server: PARTITIONED commits — the manifest's partition " +
    "record is authoritative, values land in FileEntry.partitionValues " +
    "in graft's canonical form, partition pruning works, a null value " +
    "maps to the hive marker") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restp")
    sql("CREATE NAMESPACE g.restp.main.db")
    sql("CREATE TABLE g.restp.main.db.pt (id INT, cat STRING) " +
      "PARTITIONED BY (cat)")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restp")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      Files.createTempDirectory("graft-restp-exports"), Some(spark),
      writable = true)
    val scratch = Files.createTempDirectory("rest-part-scratch")
    try {
      val meta0 = get(s"/v1/namespaces/${enc("main", "db")}/tables/pt", srv)
        ._2.get("metadata")
      val stageDir = java.nio.file.Paths.get(URI.create(
        meta0.get("properties").get("write.data.path").asText() + "/"))
      val fa = stageDir.resolve("pa.parquet")
      writeOneParquet(Seq((1, "a"), (2, "a")).toDF("id", "cat"), fa)
      val fb = stageDir.resolve("pb.parquet")
      writeOneParquet(Seq((3, "b")).toDF("id", "cat"), fb)
      val fn = stageDir.resolve("pn.parquet")
      writeOneParquet(Seq((4, Option.empty[String])).toDF("id", "cat"), fn)
      val list = stageWriterCommitCat(scratch, 9401L,
        Seq(fa -> Some("a"), fb -> Some("b"), fn -> None))
      val (c1, r1) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/pt",
        commitBody(meta0, 9401L, list), srv)
      withClue(r1.toString) { c1 shouldBe 200 }

      sql("SELECT id FROM g.restp.main.db.pt ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(1, 2, 3, 4)
      sql("SELECT id FROM g.restp.main.db.pt WHERE cat = 'b'")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(3)
      sql("SELECT id FROM g.restp.main.db.pt WHERE cat IS NULL")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(4)

      // the registered entries carry graft-canonical partition values —
      // partition pruning runs on THESE, not on directory layout
      val repo = GraftRepo.open(root)
      val snap = repo.snapshot(repo.resolve("main").tables("db/pt"))
      snap.files.size shouldBe 3
      def pvOf(name: String): String = snap.files.find(f =>
        repo.dataLocation(f.path).endsWith(name)).get.partValues("cat")
      pvOf("pa.parquet") shouldBe "a"
      pvOf("pb.parquet") shouldBe "b"
      pvOf("pn.parquet") shouldBe graft.versioned.Partitioning.NullMarker
      // the spec survived the commit (partitionBy was not erased)
      snap.partitionFields.map(_.name) shouldBe Seq("cat")
      // and planning actually prunes: only the cat=b file may match
      val pruned = snap.files.filter(f => graft.versioned.Partitioning
        .mayMatch(f, snap.partitionFields,
          org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType],
          org.apache.spark.sql.sources.EqualTo("cat", "b")))
      pruned.size shouldBe 1
      repo.dataLocation(pruned.head.path) should endWith ("pb.parquet")

      // a partitioned export of the REST-committed table round-trips:
      // the served metadata re-exports with the same partition values
      val served = get(s"/v1/namespaces/${enc("main", "db")}/tables/pt",
        srv)._2
      val plan = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(served.get("metadata-location").asText()))
      plan.dataFiles.size shouldBe 3
      plan.dataFiles.map(_.partition("cat")).toSet shouldBe
        Set("a", "b", null)
    } finally srv.close()
  }

  // ---- r12: update-schema commits, staged CREATE, equality deletes ----

  private val wEqEntrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2eq","fields":[
      |{"name":"content","type":"int"},
      |{"name":"file_path","type":"string"},
      |{"name":"file_format","type":"string"},
      |{"name":"partition","type":{"type":"record","name":"r102eq","fields":[]}},
      |{"name":"record_count","type":"long"},
      |{"name":"file_size_in_bytes","type":"long"},
      |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}]}}]}"""
      .stripMargin.replaceAll("\n", ""))

  /** What a MoR engine (e.g. a Flink upsert) commits: one data manifest
    * re-listing the base files plus `dataFiles`' additions, and one
    * DELETE manifest carrying an equality delete file over `eqIds`.
    */
  private def stageEqDeleteCommit(scratch: java.nio.file.Path, snapId: Long,
      dataFiles: Seq[java.nio.file.Path], eqFile: java.nio.file.Path,
      eqIds: Seq[Int]): java.nio.file.Path = {
    def writeManifest(name: String, entries: Seq[(java.nio.file.Path, Int, Option[Seq[Int]])])
        : java.nio.file.Path = {
      val m = scratch.resolve(name)
      val mw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](wEqEntrySchema))
      mw.setMeta("format-version", "2")
      mw.create(wEqEntrySchema, m.toFile)
      try entries.foreach { case (p, content, ids) =>
        val dfS = wEqEntrySchema.getField("data_file").schema()
        val df = new GenericData.Record(dfS)
        df.put("content", content)
        df.put("file_path", p.toUri.toString)
        df.put("file_format", "PARQUET")
        df.put("partition",
          new GenericData.Record(dfS.getField("partition").schema()))
        df.put("record_count", 1L)
        df.put("file_size_in_bytes", Files.size(p))
        ids.foreach { is =>
          val arr = new java.util.ArrayList[Integer]()
          is.foreach(i => arr.add(Integer.valueOf(i)))
          df.put("equality_ids", arr)
        }
        val e = new GenericData.Record(wEqEntrySchema)
        e.put("status", 1)
        e.put("snapshot_id", snapId)
        e.put("data_file", df)
        mw.append(e)
      } finally mw.close()
      m
    }
    val dataM = writeManifest(s"m-$snapId-data.avro",
      dataFiles.map(p => (p, 0, None)))
    val delM = writeManifest(s"m-$snapId-del.avro",
      Seq((eqFile, 2, Some(eqIds))))
    val list = scratch.resolve(s"snap-$snapId.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](wListSchema))
    lw.setMeta("format-version", "2")
    lw.create(wListSchema, list.toFile)
    try Seq((dataM, 0), (delM, 1)).foreach { case (m, content) =>
      val r = new GenericData.Record(wListSchema)
      r.put("manifest_path", m.toUri.toString)
      r.put("manifest_length", Files.size(m))
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("sequence_number", 2L)
      r.put("min_sequence_number", 2L)
      r.put("added_snapshot_id", snapId)
      lw.append(r)
    } finally lw.close()
    list
  }

  /** What a Spark MoR writer commits for DELETE/UPDATE: one data
    * manifest re-listing the base files plus `dataFiles`' additions,
    * and one DELETE manifest carrying POSITIONAL delete files
    * (content=1, rows of (file_path, pos)).
    */
  private def stagePosDeleteCommit(scratch: java.nio.file.Path, snapId: Long,
      dataFiles: Seq[java.nio.file.Path], posFiles: Seq[java.nio.file.Path],
      delFormat: String = "PARQUET"): java.nio.file.Path = {
    def writeManifest(name: String,
        entries: Seq[(java.nio.file.Path, Int, String)]): java.nio.file.Path = {
      val m = scratch.resolve(name)
      val mw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](wEqEntrySchema))
      mw.setMeta("format-version", "2")
      mw.create(wEqEntrySchema, m.toFile)
      try entries.foreach { case (p, content, fmt) =>
        val dfS = wEqEntrySchema.getField("data_file").schema()
        val df = new GenericData.Record(dfS)
        df.put("content", content)
        df.put("file_path", p.toUri.toString)
        df.put("file_format", fmt)
        df.put("partition",
          new GenericData.Record(dfS.getField("partition").schema()))
        df.put("record_count", 1L)
        df.put("file_size_in_bytes", Files.size(p))
        val e = new GenericData.Record(wEqEntrySchema)
        e.put("status", 1)
        e.put("snapshot_id", snapId)
        e.put("data_file", df)
        mw.append(e)
      } finally mw.close()
      m
    }
    val dataM = writeManifest(s"m-$snapId-data.avro",
      dataFiles.map(p => (p, 0, "PARQUET")))
    val delM = writeManifest(s"m-$snapId-posdel.avro",
      posFiles.map(p => (p, 1, delFormat)))
    val list = scratch.resolve(s"snap-$snapId.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](wListSchema))
    lw.setMeta("format-version", "2")
    lw.create(wListSchema, list.toFile)
    try Seq((dataM, 0), (delM, 1)).foreach { case (m, content) =>
      val r = new GenericData.Record(wListSchema)
      r.put("manifest_path", m.toUri.toString)
      r.put("manifest_length", Files.size(m))
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("sequence_number", 2L)
      r.put("min_sequence_number", 2L)
      r.put("added_snapshot_id", snapId)
      lw.append(r)
    } finally lw.close()
    list
  }

  test("writable server: positional-delete commit (the default Spark " +
    "MoR DELETE/UPDATE shape) lands as a server-side CoW rewrite of " +
    "exactly the dirty files — deleted positions disappear, untouched " +
    "base files keep their bytes, a stale base answers 409, and a " +
    "delete referencing an unknown file refuses 400") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restpd")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restpd")
    val exports = Files.createTempDirectory("graft-restpd-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-pd-scratch")
    try {
      sql("CREATE NAMESPACE g.restpd.main.db")
      sql("CREATE TABLE g.restpd.main.db.p (id INT, v STRING)")
      // two inserts → at least two base files, so the rewrite's
      // untouched/dirty split is observable
      sql("INSERT INTO g.restpd.main.db.p VALUES (1,'a'), (2,'b'), (3,'c')")
      sql("INSERT INTO g.restpd.main.db.p VALUES (10,'x'), (11,'y')")
      val (_, load) = get(s"/v1/namespaces/${enc("main", "db")}/tables/p", srv)
      val meta = load.get("metadata")
      val baseFiles = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      // find id=2's file and row position the way the engine does: read
      // each file with its row index
      val perFile = baseFiles.map { p =>
        val rows = spark.read.parquet(p.toString)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("_metadata.row_index"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
        p -> rows
      }
      val (dirtyFile, dirtyRows) =
        perFile.find(_._2.exists(_._1 == 2)).get
      val delPos = dirtyRows.find(_._1 == 2).get._2
      val stage = java.nio.file.Paths.get(URI.create(
        meta.get("properties").get("write.data.path").asText() + "/"))
      // the MoR UPDATE: mask (dirtyFile, pos of id=2), add the new row
      val del = stage.resolve("pos-del.parquet")
      writeOneParquet(Seq((dirtyFile.toUri.toString, delPos))
        .toDF("file_path", "pos"), del)
      val add = stage.resolve("p-upd.parquet")
      writeOneParquet(Seq((2, "B2")).toDF("id", "v"), add)
      val list = stagePosDeleteCommit(scratch, 7601L,
        baseFiles :+ add, Seq(del))
      val body = commitBody(meta, 7601L, list)
        .replace("\"operation\":\"append\"", "\"operation\":\"overwrite\"")
      val (cP, eP) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/p", body, srv)
      withClue(eP.toString) { cP shouldBe 200 }
      sql("SELECT id, v FROM g.restpd.main.db.p ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (2, "B2"), (3, "c"), (10, "x"), (11, "y"))
      // it really is CoW, scoped to the dirty file: no tombstone, the
      // dirty file is gone from the snapshot, the clean file survived
      val g = graft.versioned.GraftRepo.open(root)
      val snap = g.snapshot(g.resolve("main").tables("db/p"))
      graft.versioned.Tombstones.of(snap) shouldBe empty
      val liveAbs = snap.files.map(f =>
        graft.versioned.IcebergImport.normStr(g.dataLocation(f.path))).toSet
      liveAbs should not contain dirtyFile.toUri.toString
      val cleanFile = perFile.find(!_._2.exists(_._1 == 2)).get._1
      liveAbs should contain (cleanFile.toUri.toString)

      // the SAME body again is a stale base (assert-ref-snapshot-id
      // moved) → 409, the engine's refresh-and-retry signal
      val (cS, eS) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/p", body, srv)
      cS shouldBe 409
      eS.get("error").get("type").asText() shouldBe "CommitFailedException"

      // a positional delete naming a file the base never held → 400
      val (_, load2) = get(s"/v1/namespaces/${enc("main", "db")}/tables/p", srv)
      val meta2 = load2.get("metadata")
      val base2 = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load2.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val delU = stage.resolve("pos-del-unknown.parquet")
      writeOneParquet(Seq(("file:///nowhere/ghost.parquet", 0L))
        .toDF("file_path", "pos"), delU)
      val listU = stagePosDeleteCommit(scratch, 7602L, base2, Seq(delU))
      val bodyU = commitBody(meta2, 7602L, listU)
        .replace("\"operation\":\"append\"", "\"operation\":\"delete\"")
      val (cU, eU) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/p", bodyU, srv)
      cU shouldBe 400
      eU.get("error").get("message").asText() should include ("not")

      // op=append carrying positional deletes refuses loudly
      val listA = stagePosDeleteCommit(scratch, 7603L, base2, Seq(delU))
      val (cA, eA) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/p",
        commitBody(meta2, 7603L, listA), srv)
      cA shouldBe 400
      eA.get("error").get("message").asText() should include ("append")

      // write.delete.format=orc engines post ORC positional deletes —
      // same lowering through the ORC reader (delete id=10's position)
      val perFile2 = base2.map { p =>
        p -> spark.read.parquet(p.toString)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("_metadata.row_index"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
      }
      val (f10, rows10) = perFile2.find(_._2.exists(_._1 == 10)).get
      val pos10 = rows10.find(_._1 == 10).get._2
      val delO = stage.resolve("pos-del.orc")
      locally {
        import scala.jdk.CollectionConverters._
        val tmp = Files.createTempDirectory("rest-orc-writer")
        Seq((f10.toUri.toString, pos10)).toDF("file_path", "pos")
          .coalesce(1).write.mode("overwrite").orc(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(p => p.getFileName.toString.startsWith("part-") &&
            p.getFileName.toString.endsWith(".orc")).get
        Files.move(part, delO)
      }
      val listO = stagePosDeleteCommit(scratch, 7604L, base2, Seq(delO),
        delFormat = "ORC")
      val bodyO = commitBody(meta2, 7604L, listO)
        .replace("\"operation\":\"append\"", "\"operation\":\"delete\"")
      val (cO, eO) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/p", bodyO, srv)
      withClue(eO.toString) { cO shouldBe 200 }
      sql("SELECT id FROM g.restpd.main.db.p ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(1, 2, 3, 11)
    } finally srv.close()
  }

  test("positional-delete commit on a PARTITIONED table: the rewrite " +
    "keeps hive layout + per-file partition tuples (pruning survives " +
    "engine-driven MoR churn)") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restpp2")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restpp2")
    val exports = Files.createTempDirectory("graft-restpp2-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-pp2-scratch")
    try {
      sql("CREATE NAMESPACE g.restpp2.main.db")
      sql("CREATE TABLE g.restpp2.main.db.p (id INT, cat STRING) " +
        "PARTITIONED BY (cat)")
      sql("INSERT INTO g.restpp2.main.db.p VALUES " +
        "(1,'a'), (2,'a'), (3,'b'), (4,'b')")
      val (_, load) = get(s"/v1/namespaces/${enc("main", "db")}/tables/p", srv)
      val meta = load.get("metadata")
      val baseFiles = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      // find id=3's file + position (a 'b'-partition row)
      val perFile = baseFiles.map { p =>
        p -> spark.read.parquet(p.toString)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("_metadata.row_index"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
      }
      val (dirty, rows) = perFile.find(_._2.exists(_._1 == 3)).get
      val pos3 = rows.find(_._1 == 3).get._2
      val stage = java.nio.file.Paths.get(URI.create(
        meta.get("properties").get("write.data.path").asText() + "/"))
      val del = stage.resolve("pp2-pos.parquet")
      writeOneParquet(Seq((dirty.toUri.toString, pos3))
        .toDF("file_path", "pos"), del)
      val list = stagePosDeleteCommit(scratch, 7950L, baseFiles, Seq(del))
      val body = commitBody(meta, 7950L, list)
        .replace("\"operation\":\"append\"", "\"operation\":\"delete\"")
      val (c, e) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/p", body, srv)
      withClue(e.toString) { c shouldBe 200 }
      sql("SELECT id FROM g.restpp2.main.db.p ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(1, 2, 4)
      // every live file — including the rewritten one — carries its
      // partition tuple and sits in a hive dir
      val g = graft.versioned.GraftRepo.open(root)
      val snap = g.snapshot(g.resolve("main").tables("db/p"))
      snap.files.foreach { f =>
        f.path should include ("__p_cat=")
        f.partValues.get("cat") shouldBe
          Some(graft.versioned.Partitioning.valuesFromPath(f.path)("cat"))
      }
      // partition pruning still separates: cat='a' admits no 'b' file
      sql("SELECT count(*) FROM g.restpp2.main.db.p WHERE cat = 'a'")
        .collect().head.getLong(0) shouldBe 2L
    } finally srv.close()
  }

  /** v3 deletion-vector blob per the Iceberg spec (same layout the
    * importer's Puffin reader decodes — see IcebergImportSpec.dvBlob). */
  private def dvBlob(positions: Seq[Long]): Array[Byte] = {
    val groups = positions.groupBy(p => (p >>> 32).toInt).toSeq.sortBy(_._1)
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeLong(java.lang.Long.reverseBytes(groups.size.toLong))
    groups.foreach { case (k, ps) =>
      dos.writeInt(java.lang.Integer.reverseBytes(k))
      val rb = new org.roaringbitmap.RoaringBitmap()
      ps.foreach(p => rb.add((p & 0xffffffffL).toInt))
      rb.runOptimize()
      rb.serialize(dos)
    }
    dos.flush()
    val vector = bos.toByteArray
    val magic = Array(0xd1, 0xd3, 0x39, 0x64).map(_.toByte)
    val crc = new java.util.zip.CRC32()
    crc.update(magic); crc.update(vector)
    val out = java.nio.ByteBuffer.allocate(12 + vector.length)
    out.putInt(4 + vector.length)
    out.put(magic).put(vector)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  private def writePuffin(out: java.nio.file.Path,
      blobs: Seq[Array[Byte]]): Seq[(Long, Long)] = {
    val magic = "PFA1".getBytes("UTF-8")
    var off = magic.length.toLong
    val coords = blobs.map { b =>
      val c = (off, b.length.toLong); off += b.length; c }
    val payload = ("""{"blobs":[""" + coords.map { case (o, l) =>
      s"""{"type":"deletion-vector-v1","fields":[],"snapshot-id":1,""" +
        s""""sequence-number":1,"offset":$o,"length":$l}"""
    }.mkString(",") + """],"properties":{}}""").getBytes("UTF-8")
    val bb = java.nio.ByteBuffer
      .allocate(magic.length * 3 + blobs.map(_.length).sum +
        payload.length + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(magic)
    blobs.foreach(bb.put)
    bb.put(magic).put(payload).putInt(payload.length).putInt(0).put(magic)
    Files.write(out, bb.array())
    coords
  }

  private val wDvEntrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2dv","fields":[
      |{"name":"content","type":"int"},
      |{"name":"file_path","type":"string"},
      |{"name":"file_format","type":"string"},
      |{"name":"partition","type":{"type":"record","name":"r102dv","fields":[]}},
      |{"name":"record_count","type":"long"},
      |{"name":"file_size_in_bytes","type":"long"},
      |{"name":"referenced_data_file","type":["null","string"],"default":null},
      |{"name":"content_offset","type":["null","long"],"default":null},
      |{"name":"content_size_in_bytes","type":["null","long"],"default":null}
      |]}}]}""".stripMargin.replaceAll("\n", ""))

  /** What a v3 engine commits for MoR DELETE: data manifest re-listing
    * base files, delete manifest carrying PUFFIN deletion vectors.
    */
  private def stageDvCommit(scratch: java.nio.file.Path, snapId: Long,
      dataFiles: Seq[java.nio.file.Path], puffin: java.nio.file.Path,
      dvs: Seq[(String, Long, Long)]): java.nio.file.Path = {
    def entry(p: String, content: Int, fmt: String,
        dv: Option[(String, Long, Long)]): GenericRecord = {
      val dfS = wDvEntrySchema.getField("data_file").schema()
      val df = new GenericData.Record(dfS)
      df.put("content", content)
      df.put("file_path", p)
      df.put("file_format", fmt)
      df.put("partition",
        new GenericData.Record(dfS.getField("partition").schema()))
      df.put("record_count", 1L)
      df.put("file_size_in_bytes", 1L)
      dv.foreach { case (ref, o, l) =>
        df.put("referenced_data_file", ref)
        df.put("content_offset", o)
        df.put("content_size_in_bytes", l)
      }
      val e = new GenericData.Record(wDvEntrySchema)
      e.put("status", 1)
      e.put("snapshot_id", snapId)
      e.put("data_file", df)
      e
    }
    def writeM(name: String, es: Seq[GenericRecord]): java.nio.file.Path = {
      val m = scratch.resolve(name)
      val mw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](wDvEntrySchema))
      mw.setMeta("format-version", "3")
      mw.create(wDvEntrySchema, m.toFile)
      try es.foreach(mw.append) finally mw.close()
      m
    }
    val dataM = writeM(s"m-$snapId-data.avro",
      dataFiles.map(p => entry(p.toUri.toString, 0, "PARQUET", None)))
    val delM = writeM(s"m-$snapId-dv.avro",
      dvs.map(d => entry(puffin.toUri.toString, 1, "PUFFIN", Some(d))))
    val list = scratch.resolve(s"snap-$snapId.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](wListSchema))
    lw.setMeta("format-version", "3")
    lw.create(wListSchema, list.toFile)
    try Seq((dataM, 0), (delM, 1)).foreach { case (m, content) =>
      val r = new GenericData.Record(wListSchema)
      r.put("manifest_path", m.toUri.toString)
      r.put("manifest_length", Files.size(m))
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("sequence_number", 2L)
      r.put("min_sequence_number", 2L)
      r.put("added_snapshot_id", snapId)
      lw.append(r)
    } finally lw.close()
    list
  }

  /** Mixed-delete manifest staging: data manifest re-lists base +
    * added files, the delete manifest carries BOTH positional
    * (content=1) and equality (content=2 + ids) delete files — the
    * full Flink-upsert checkpoint shape.
    */
  private def stageMixedDeleteCommit(scratch: java.nio.file.Path,
      snapId: Long, dataFiles: Seq[java.nio.file.Path],
      deletes: Seq[(java.nio.file.Path, Int, Option[Seq[Int]])])
      : java.nio.file.Path = {
    def writeManifest(name: String,
        entries: Seq[(java.nio.file.Path, Int, Option[Seq[Int]])])
        : java.nio.file.Path = {
      val m = scratch.resolve(name)
      val mw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](wEqEntrySchema))
      mw.setMeta("format-version", "2")
      mw.create(wEqEntrySchema, m.toFile)
      try entries.foreach { case (p, content, ids) =>
        val dfS = wEqEntrySchema.getField("data_file").schema()
        val df = new GenericData.Record(dfS)
        df.put("content", content)
        df.put("file_path", p.toUri.toString)
        df.put("file_format", "PARQUET")
        df.put("partition",
          new GenericData.Record(dfS.getField("partition").schema()))
        df.put("record_count", 1L)
        df.put("file_size_in_bytes", Files.size(p))
        ids.foreach { is =>
          val arr = new java.util.ArrayList[Integer]()
          is.foreach(i => arr.add(Integer.valueOf(i)))
          df.put("equality_ids", arr)
        }
        val e = new GenericData.Record(wEqEntrySchema)
        e.put("status", 1)
        e.put("snapshot_id", snapId)
        e.put("data_file", df)
        mw.append(e)
      } finally mw.close()
      m
    }
    val dataM = writeManifest(s"m-$snapId-data.avro",
      dataFiles.map(p => (p, 0, None)))
    val delM = writeManifest(s"m-$snapId-mixdel.avro", deletes)
    val list = scratch.resolve(s"snap-$snapId.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](wListSchema))
    lw.setMeta("format-version", "2")
    lw.create(wListSchema, list.toFile)
    try Seq((dataM, 0), (delM, 1)).foreach { case (m, content) =>
      val r = new GenericData.Record(wListSchema)
      r.put("manifest_path", m.toUri.toString)
      r.put("manifest_length", Files.size(m))
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("sequence_number", 2L)
      r.put("min_sequence_number", 2L)
      r.put("added_snapshot_id", snapId)
      lw.append(r)
    } finally lw.close()
    list
  }

  test("writable server: the FULL Flink-upsert commit shape in one " +
    "post — equality delete + positional deletes referencing a base " +
    "file AND a same-commit added file. Spec semantics hold: the " +
    "equality delete is exempt on the same-commit add (strictly-lower " +
    "rule) while positions apply to both; dirty files rewrite, the " +
    "equality predicate lands as a tombstone for untouched files") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restfl")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restfl")
    val exports = Files.createTempDirectory("graft-restfl-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-fl-scratch")
    try {
      sql("CREATE NAMESPACE g.restfl.main.db")
      sql("CREATE TABLE g.restfl.main.db.f (id INT, v STRING)")
      sql("INSERT INTO g.restfl.main.db.f VALUES (1,'a'), (2,'b'), (3,'c')")
      val (_, load) = get(s"/v1/namespaces/${enc("main", "db")}/tables/f", srv)
      val meta = load.get("metadata")
      val idFieldId = {
        val it = meta.get("schemas").elements().next().get("fields").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .find(_.get("name").asText() == "id").get.get("id").asInt()
      }
      val baseFiles = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      // the base file holding id=3, and id=3's row position in it
      val perFile = baseFiles.map { p =>
        p -> spark.read.parquet(p.toString)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("_metadata.row_index"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
      }
      val (dirtyBase, rows3) = perFile.find(_._2.exists(_._1 == 3)).get
      val pos3 = rows3.find(_._1 == 3).get._2
      val stage = java.nio.file.Paths.get(URI.create(
        meta.get("properties").get("write.data.path").asText() + "/"))
      // Flink's checkpoint: the add carries TWO versions of id=2 (the
      // intra-checkpoint upsert) + a fresh id=4; a positional delete
      // masks the superseded (2,'B1') AT POSITION 0 OF THE ADDED FILE;
      // an equality delete on id=2 retires the OLD row in the base
      val add = stage.resolve("f-ckpt.parquet")
      writeOneParquet(Seq((2, "B1"), (2, "B2"), (4, "d")).toDF("id", "v"),
        add)
      val posDel = stage.resolve("f-pos.parquet")
      writeOneParquet(Seq(
        (add.toUri.toString, 0L),           // intra-checkpoint dedup
        (dirtyBase.toUri.toString, pos3)    // plus a base-file position
      ).toDF("file_path", "pos"), posDel)
      val eqDel = stage.resolve("f-eq.parquet")
      writeOneParquet(Seq(2).toDF("id"), eqDel)
      val list = stageMixedDeleteCommit(scratch, 7801L,
        baseFiles :+ add,
        Seq((posDel, 1, None), (eqDel, 2, Some(Seq(idFieldId)))))
      val body = commitBody(meta, 7801L, list)
        .replace("\"operation\":\"append\"", "\"operation\":\"overwrite\"")
      val (cF, eF) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/f", body, srv)
      withClue(eF.toString) { cF shouldBe 200 }
      // (2,'B1') pos-deleted in the add; (2,'b') eq-deleted in the
      // base; (3,'c') pos-deleted in the base; (2,'B2') SURVIVES the
      // equality delete (same-commit add, strictly-lower exemption)
      sql("SELECT id, v FROM g.restfl.main.db.f ORDER BY id, v")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (2, "B2"), (4, "d"))
      // the equality predicate landed as a tombstone (for any base file
      // the positions did not dirty)
      val g = graft.versioned.GraftRepo.open(root)
      val snap = g.snapshot(g.resolve("main").tables("db/f"))
      graft.versioned.Tombstones.of(snap).size shouldBe 1
    } finally srv.close()
  }

  test("writable server (v3): a DELETION VECTOR commit lowers onto the " +
    "same server-side CoW rewrite — the DV's positions disappear from " +
    "exactly the referenced file") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restdv")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restdv")
    val exports = Files.createTempDirectory("graft-restdv-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true, formatVersion = 3)
    val scratch = Files.createTempDirectory("rest-dv-scratch")
    try {
      sql("CREATE NAMESPACE g.restdv.main.db")
      sql("CREATE TABLE g.restdv.main.db.d (id INT, v STRING)")
      sql("INSERT INTO g.restdv.main.db.d VALUES (1,'a'), (2,'b'), (3,'c')")
      val (_, load) = get(s"/v1/namespaces/${enc("main", "db")}/tables/d", srv)
      val meta = load.get("metadata")
      meta.get("format-version").asInt() shouldBe 3
      val baseFiles = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      // positions of ids 1 and 3 inside their file(s), engine-style
      val perFile = baseFiles.map { p =>
        p -> spark.read.parquet(p.toString)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("_metadata.row_index"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
      }
      val dvTargets = perFile
        .map { case (p, rows) =>
          p -> rows.filter(r => r._1 == 1 || r._1 == 3).map(_._2) }
        .filter(_._2.nonEmpty)
      val stage = java.nio.file.Paths.get(URI.create(
        meta.get("properties").get("write.data.path").asText() + "/"))
      val puffin = stage.resolve("deletes.puffin")
      Files.createDirectories(puffin.getParent)
      val coords = writePuffin(puffin, dvTargets.map(t => dvBlob(t._2)))
      val dvs = dvTargets.zip(coords).map { case ((p, _), (o, l)) =>
        (p.toUri.toString, o, l) }
      val list = stageDvCommit(scratch, 7701L, baseFiles, puffin, dvs)
      val body = commitBody(meta, 7701L, list)
        .replace("\"operation\":\"append\"", "\"operation\":\"delete\"")
      val (cD, eD) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/d", body, srv)
      withClue(eD.toString) { cD shouldBe 200 }
      sql("SELECT id, v FROM g.restdv.main.db.d ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((2, "b"))
      // CoW, not MoR: no tombstones behind the result
      val g = graft.versioned.GraftRepo.open(root)
      val snap = g.snapshot(g.resolve("main").tables("db/d"))
      graft.versioned.Tombstones.of(snap) shouldBe empty
    } finally srv.close()
  }

  test("writable server: update-schema commits — add/rename/widen land " +
    "as graft metadata-only evolution; a later append carries the new " +
    "column; stale requirements answer 409; non-widening refuses 400") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restsu")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restsu")
    val exports = Files.createTempDirectory("graft-restsu-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-su-scratch")
    try {
      sql("CREATE NAMESPACE g.restsu.main.db")
      sql("CREATE TABLE g.restsu.main.db.e (id INT, v STRING)")
      sql("INSERT INTO g.restsu.main.db.e VALUES (1, 'a'), (2, 'b')")
      val meta = get(s"/v1/namespaces/${enc("main", "db")}/tables/e", srv)
        ._2.get("metadata")
      val uuid = meta.get("table-uuid").asText()
      val curId = meta.get("current-schema-id").asInt()
      val schema0 = meta.get("schemas").elements().next()
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val lastId = meta.get("last-column-id").asInt()

      // engine ALTER TABLE ADD COLUMN w BIGINT: served schema + 1 field
      val s1 = schema0.deepCopy()
      s1.put("schema-id", 1)
      val nf = mapper.createObjectNode()
      nf.put("id", lastId + 1); nf.put("name", "w")
      nf.put("required", false); nf.put("type", "long")
      s1.withArray("fields").add(nf)
      def alterBody(schemaJson: String, assertId: Int): String =
        s"""{"requirements":[
           |{"type":"assert-table-uuid","uuid":"$uuid"},
           |{"type":"assert-current-schema-id","current-schema-id":$assertId}],
           |"updates":[
           |{"action":"add-schema","schema":$schemaJson},
           |{"action":"set-current-schema","schema-id":-1}]}"""
          .stripMargin.replaceAll("\n", "")
      val (c1, _) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/e",
        alterBody(mapper.writeValueAsString(s1), curId), srv)
      c1 shouldBe 200
      spark.table("g.restsu.main.db.e").columns should contain ("w")
      sql("SELECT w FROM g.restsu.main.db.e").collect()
        .forall(_.isNullAt(0)) shouldBe true

      // an engine append under the evolved schema (new column populated;
      // the posted snapshot re-lists the base files — full-state commit)
      val (_, load2) = get(s"/v1/namespaces/${enc("main", "db")}/tables/e", srv)
      val meta2 = load2.get("metadata")
      val stage = java.nio.file.Paths.get(URI.create(
        meta2.get("properties").get("write.data.path").asText() + "/"))
      val f = stage.resolve("e-new.parquet")
      writeOneParquet(Seq((3, "c", 30L)).toDF("id", "v", "w"), f)
      val baseE = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load2.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val list = stageWriterCommit(scratch, 7301L, baseE :+ f)
      send("POST", s"/v1/namespaces/${enc("main", "db")}/tables/e",
        commitBody(meta2, 7301L, list), srv)._1 shouldBe 200
      sql("SELECT id, v, w FROM g.restsu.main.db.e ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq shouldBe
        Seq((1, "a", -1L), (2, "b", -1L), (3, "c", 30L))

      // a STALE schema requirement answers 409, not 500
      val (c9, e9) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/e",
        alterBody(mapper.writeValueAsString(s1), 99), srv)
      c9 shouldBe 409
      e9.get("error").get("type").asText() shouldBe "CommitFailedException"

      // rename v -> label (same field id) + widen id int -> long, one commit
      val meta3 = get(s"/v1/namespaces/${enc("main", "db")}/tables/e", srv)
        ._2.get("metadata")
      val s2 = meta3.get("schemas").elements().next()
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].deepCopy()
      s2.put("schema-id", 2)
      val fit = s2.withArray("fields").elements()
      while (fit.hasNext) {
        val fn = fit.next().asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        if (fn.get("name").asText() == "v") fn.put("name", "label")
        if (fn.get("name").asText() == "id") fn.put("type", "long")
      }
      send("POST", s"/v1/namespaces/${enc("main", "db")}/tables/e",
        alterBody(mapper.writeValueAsString(s2),
          meta3.get("current-schema-id").asInt()), srv)._1 shouldBe 200
      sql("SELECT label FROM g.restsu.main.db.e WHERE id = 1")
        .collect().map(_.getString(0)).toSeq shouldBe Seq("a")
      spark.table("g.restsu.main.db.e").schema("id").dataType shouldBe
        org.apache.spark.sql.types.LongType

      // non-widening type change refuses loudly
      val meta4 = get(s"/v1/namespaces/${enc("main", "db")}/tables/e", srv)
        ._2.get("metadata")
      val s3 = meta4.get("schemas").elements().next()
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].deepCopy()
      s3.put("schema-id", 3)
      val fit3 = s3.withArray("fields").elements()
      while (fit3.hasNext) {
        val fn = fit3.next().asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        if (fn.get("name").asText() == "id") fn.put("type", "int")
      }
      val (cN, eN) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/e",
        alterBody(mapper.writeValueAsString(s3),
          meta4.get("current-schema-id").asInt()), srv)
      cN shouldBe 400
      eN.get("error").get("message").asText() should include ("widening")
    } finally srv.close()
  }

  test("writable server: staged CREATE (CTAS) — stage-create returns " +
    "snapshot-less metadata and touches nothing; the assert-create " +
    "commit lands table + first snapshot atomically; the losing racer " +
    "gets 409; an abandoned stage leaves nothing") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restsc")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restsc")
    val exports = Files.createTempDirectory("graft-restsc-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-sc-scratch")
    try {
      sql("CREATE NAMESPACE g.restsc.main.db")
      val createReq =
        """{"name":"c","stage-create":true,"schema":{"type":"struct",
          |"schema-id":0,"fields":[
          |{"id":1,"name":"id","required":false,"type":"int"},
          |{"id":2,"name":"v","required":false,"type":"string"}]},
          |"properties":{"owner":"spec"}}""".stripMargin.replaceAll("\n", "")
      val (c0, staged) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables", createReq, srv)
      c0 shouldBe 200
      staged.has("metadata-location") shouldBe false // staged, not committed
      val sm = staged.get("metadata")
      sm.get("current-snapshot-id").asLong() shouldBe -1L
      // the catalog is untouched: the table does not exist yet
      get(s"/v1/namespaces/${enc("main", "db")}/tables/c", srv)._1 shouldBe 404

      // engine writes CTAS output under the staged write.data.path
      val stage = java.nio.file.Paths.get(URI.create(
        sm.get("properties").get("write.data.path").asText() + "/"))
      val f = stage.resolve("c-0.parquet")
      writeOneParquet(Seq((1, "x"), (2, "y")).toDF("id", "v"), f)
      val list = stageWriterCommit(scratch, 7401L, Seq(f))
      def stagedCommit(listLoc: java.nio.file.Path, snapId: Long): String =
        s"""{"requirements":[{"type":"assert-create"}],"updates":[
           |{"action":"assign-uuid","uuid":"${sm.get("table-uuid").asText()}"},
           |{"action":"upgrade-format-version","format-version":2},
           |{"action":"add-schema","schema":${mapper.writeValueAsString(
               sm.get("schemas").elements().next())}},
           |{"action":"set-current-schema","schema-id":-1},
           |{"action":"add-partition-spec","spec":{"spec-id":0,"fields":[]}},
           |{"action":"set-default-spec","spec-id":-1},
           |{"action":"add-sort-order","sort-order":{"order-id":0,"fields":[]}},
           |{"action":"set-default-sort-order","sort-order-id":-1},
           |{"action":"set-location","location":"${sm.get("location").asText()}"},
           |{"action":"set-properties","updates":{"owner":"spec"}},
           |{"action":"add-snapshot","snapshot":{"snapshot-id":$snapId,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"${listLoc.toUri}",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":$snapId,"type":"branch"}]}"""
          .stripMargin.replaceAll("\n", "")
      send("POST", s"/v1/namespaces/${enc("main", "db")}/tables/c",
        stagedCommit(list, 7401L), srv)._1 shouldBe 200
      sql("SELECT id, v FROM g.restsc.main.db.c ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "x"), (2, "y"))

      // the losing concurrent CTAS: same staged commit again -> 409
      val f2 = stage.resolve("c-1.parquet")
      writeOneParquet(Seq((9, "z")).toDF("id", "v"), f2)
      val (cL, eL) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/c",
        stagedCommit(stageWriterCommit(scratch, 7402L, Seq(f2)), 7402L), srv)
      cL shouldBe 409
      eL.get("error").get("type").asText() shouldBe "AlreadyExistsException"
      // the loser's rows never became visible
      sql("SELECT count(*) FROM g.restsc.main.db.c")
        .collect().head.getLong(0) shouldBe 2L

      // staging an existing table name refuses up front
      send("POST", s"/v1/namespaces/${enc("main", "db")}/tables",
        createReq, srv)._1 shouldBe 409

      // an abandoned stage leaves NOTHING: no table, no files anywhere
      val (cA, stagedA) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables",
        createReq.replace("\"name\":\"c\"", "\"name\":\"zz\""), srv)
      cA shouldBe 200
      stagedA.has("metadata-location") shouldBe false
      get(s"/v1/namespaces/${enc("main", "db")}/tables/zz", srv)._1 shouldBe 404
      Files.exists(exports.resolve("main/db/zz")) shouldBe false
      graft.versioned.GraftRepo.open(root).resolve("main")
        .tables.contains("db/zz") shouldBe false
    } finally srv.close()
  }

  test("writable server: equality-delete commit lands as a graft " +
    "merge-on-read tombstone — base rows matching the keys disappear, " +
    "same-commit data files are exempt (the Flink-upsert shape), and " +
    "NULL-valued delete rows refuse loudly") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restmor")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restmor")
    val exports = Files.createTempDirectory("graft-restmor-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-mor-scratch")
    try {
      sql("CREATE NAMESPACE g.restmor.main.db")
      sql("CREATE TABLE g.restmor.main.db.m (id INT, v STRING)")
      sql("INSERT INTO g.restmor.main.db.m VALUES (1,'a'), (2,'b'), (3,'c')")
      val (_, load) = get(s"/v1/namespaces/${enc("main", "db")}/tables/m", srv)
      val meta = load.get("metadata")
      val idFieldId = {
        val it = meta.get("schemas").elements().next().get("fields").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .find(_.get("name").asText() == "id").get.get("id").asInt()
      }
      val stage = java.nio.file.Paths.get(URI.create(
        meta.get("properties").get("write.data.path").asText() + "/"))
      // the upsert: delete key id=2, add a file with the NEW id=2 row
      // (and a fresh id=4) — the delete must not touch the new file
      val del = stage.resolve("eq-del.parquet")
      writeOneParquet(Seq(2).toDF("id"), del)
      val add = stage.resolve("m-upsert.parquet")
      writeOneParquet(Seq((2, "B2"), (4, "d")).toDF("id", "v"), add)
      val baseFiles = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val list = stageEqDeleteCommit(scratch, 7501L,
        baseFiles :+ add, del, Seq(idFieldId))
      val body = commitBody(meta, 7501L, list)
        .replace("\"operation\":\"append\"", "\"operation\":\"overwrite\"")
      val (cM, eM) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/m", body, srv)
      withClue(eM.toString) { cM shouldBe 200 }
      sql("SELECT id, v FROM g.restmor.main.db.m ORDER BY id, v")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (2, "B2"), (3, "c"), (4, "d"))
      // it really is merge-on-read: a tombstone property exists
      val snap = {
        val g = graft.versioned.GraftRepo.open(root)
        g.snapshot(g.resolve("main").tables("db/m"))
      }
      graft.versioned.Tombstones.of(snap).size shouldBe 1

      // NULL delete values refuse (null-safe semantics not expressible)
      val delN = stage.resolve("eq-del-null.parquet")
      writeOneParquet(Seq[Option[Int]](None).toDF("id"), delN)
      val (_, load2) = get(s"/v1/namespaces/${enc("main", "db")}/tables/m", srv)
      val meta2 = load2.get("metadata")
      val base2 = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load2.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val listN = stageEqDeleteCommit(scratch, 7502L, base2, delN,
        Seq(idFieldId))
      val bodyN = commitBody(meta2, 7502L, listN)
        .replace("\"operation\":\"append\"", "\"operation\":\"delete\"")
      val (cN, eN) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/m", bodyN, srv)
      cN shouldBe 400
      eN.get("error").get("message").asText() should include ("NULL")

      // unknown equality field id refuses with a clear message
      val listU = stageEqDeleteCommit(scratch, 7503L, base2, del, Seq(999))
      val bodyU = commitBody(meta2, 7503L, listU)
        .replace("\"operation\":\"append\"", "\"operation\":\"delete\"")
      val (cU, eU) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/m", bodyU, srv)
      cU shouldBe 400
      eU.get("error").get("message").asText() should include ("field id")
    } finally srv.close()
  }

  test("writable server: set/remove-properties commits, the graft.* " +
    "property guard, and partition-spec evolution over REST") {
    sql("CREATE NAMESPACE g.restpp")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restpp")
    val exports = Files.createTempDirectory("graft-restpp-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    try {
      sql("CREATE NAMESPACE g.restpp.main.db")
      sql("CREATE TABLE g.restpp.main.db.pp (id INT, cat STRING)")
      sql("INSERT INTO g.restpp.main.db.pp VALUES (1, 'a'), (2, 'b')")
      val meta = get(s"/v1/namespaces/${enc("main", "db")}/tables/pp", srv)
        ._2.get("metadata")
      val uuid = meta.get("table-uuid").asText()
      def commit(updates: String): (Int, JsonNode) =
        send("POST", s"/v1/namespaces/${enc("main", "db")}/tables/pp",
          s"""{"requirements":[{"type":"assert-table-uuid","uuid":"$uuid"}],
             |"updates":[$updates]}""".stripMargin.replaceAll("\n", ""), srv)

      // properties land and removals stick, metadata-only
      commit("""{"action":"set-properties",
        |"updates":{"owner":"a","note":"x"}}""".stripMargin
        .replaceAll("\n", ""))._1 shouldBe 200
      commit("""{"action":"remove-properties","removals":["note"]},
        |{"action":"set-properties","updates":{"owner":"b"}}""".stripMargin
        .replaceAll("\n", ""))._1 shouldBe 200
      val g = GraftRepo.open(root)
      def snap() = g.snapshot(g.resolve("main").tables("db/pp"))
      snap().properties.get("owner") shouldBe Some("b")
      snap().properties.contains("note") shouldBe false

      // engine-managed graft.* state refuses in both directions
      val (cG, eG) = commit("""{"action":"set-properties",
        |"updates":{"graft.mor.lastseq":"999"}}""".stripMargin
        .replaceAll("\n", ""))
      cG shouldBe 400
      eG.get("error").get("message").asText() should include ("engine-managed")
      commit("""{"action":"remove-properties",
        |"removals":["graft.mor.tombstones"]}""".stripMargin
        .replaceAll("\n", ""))._1 shouldBe 400

      // partition evolution: identity(cat) forward-only, metadata-only
      val catId = {
        val it = meta.get("schemas").elements().next().get("fields").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .find(_.get("name").asText() == "cat").get.get("id").asInt()
      }
      commit(s"""{"action":"add-partition-spec","spec":{"spec-id":1,
        |"fields":[{"source-id":$catId,"name":"cat",
        |"transform":"identity","field-id":1000}]}},
        |{"action":"set-default-spec","spec-id":-1}""".stripMargin
        .replaceAll("\n", ""))._1 shouldBe 200
      snap().partitionFields shouldBe
        Seq(graft.versioned.PartitionField("cat", "identity", "cat"))
      // pre-existing files keep reading (no recorded values -> kept)
      sql("SELECT count(*) FROM g.restpp.main.db.pp")
        .collect().head.getLong(0) shouldBe 2L
      // a native write under the new spec records partition values
      sql("INSERT INTO g.restpp.main.db.pp VALUES (3, 'c')")
      sql("SELECT id FROM g.restpp.main.db.pp WHERE cat = 'c'")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(3)

      // a spec change may not share a commit with a snapshot
      val (cS, eS) = commit(s"""{"action":"add-partition-spec","spec":{
        |"spec-id":2,"fields":[]}},
        |{"action":"add-snapshot","snapshot":{"snapshot-id":1,
        |"timestamp-ms":1700000000000,"schema-id":0,
        |"manifest-list":"/nonexistent","summary":{"operation":"append"}}}"""
        .stripMargin.replaceAll("\n", ""))
      cS shouldBe 400
      eS.get("error").get("message").asText() should include ("its own commit")
    } finally srv.close()
  }

  test("served view default-namespace keeps its db segment for BOTH " +
    "namespace shapes: canonical [repo, branch, db...] and a legacy " +
    "2-segment [branch, db] entry written by an old no-prefix server") {
    sql("CREATE NAMESPACE g.vns")
    sql("CREATE NAMESPACE g.vns.main.db")
    sql("CREATE TABLE g.vns.main.db.t (id INT)")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "vns")
    val g = GraftRepo.open(root)
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.IntegerType))).json
    // a LEGACY entry (pre-r13 no-prefix server shape): [branch, db]
    g.commitRetryViews("main", "seed legacy view") { base =>
      base.viewMap + ("db/legacy" -> graft.versioned.ViewDef(
        sql = "SELECT id FROM t", catalog = "",
        namespace = Seq("main", "db"), schemaJson = schemaJson))
    }
    // a CANONICAL entry: [repo, branch, db]
    g.commitRetryViews("main", "seed canonical view") { base =>
      base.viewMap + ("db/canonical" -> graft.versioned.ViewDef(
        sql = "SELECT id FROM t", catalog = "",
        namespace = Seq("vns", "main", "db"), schemaJson = schemaJson))
    }
    // the r14 FORMAT MARKER pins the repo-named-like-a-ref edge: a
    // canonical entry whose repo segment IS a live ref name and whose
    // stored branch segment no longer resolves (branch since deleted)
    // would shape-sniff as legacy and serve a stale branch segment —
    // nsForm=2 (what every current writer stamps) keeps it canonical
    g.commitRetryViews("main", "seed marked view") { base =>
      base.viewMap + ("db/marked" -> graft.versioned.ViewDef(
        sql = "SELECT id FROM t", catalog = "",
        namespace = Seq("main", "deletedbranch", "db"),
        schemaJson = schemaJson, nsForm = 2))
    }
    import scala.jdk.CollectionConverters._
    val exports = Files.createTempDirectory("graft-vns-exports")
    val srv = IcebergRestServer.start(g, exports, Some(spark))
    try {
      def dns(view: String): Seq[String] = {
        val (c, load) = get(
          s"/v1/namespaces/${enc("main", "db")}/views/$view", srv)
        c shouldBe 200
        load.get("metadata").get("versions").elements().next()
          .get("default-namespace").elements().asScala
          .map(_.asText()).toSeq
      }
      // all shapes serve [branch, db] — an external engine can resolve
      // the view's relative `t` reference either way
      dns("legacy") shouldBe Seq("main", "db")
      dns("canonical") shouldBe Seq("main", "db")
      dns("marked") shouldBe Seq("main", "db")
    } finally srv.close()
    // the same entries through a WAREHOUSE (prefixed) server: the
    // prefix segment must not eat the db path either
    val reposRoot = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"))
    val wsrv = IcebergRestServer.startWarehouse(reposRoot,
      Files.createTempDirectory("graft-vnswh-exports"), Some(spark))
    try {
      def dnsW(view: String): Seq[String] = {
        val r = http.send(HttpRequest.newBuilder(URI.create(
          s"${wsrv.uri}/v1/vns/namespaces/${enc("main", "db")}" +
            s"/views/$view")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        withClue(r.body()) { r.statusCode() shouldBe 200 }
        mapper.readTree(r.body()).get("metadata").get("versions")
          .elements().next().get("default-namespace").elements()
          .asScala.map(_.asText()).toSeq
      }
      dnsW("legacy") shouldBe Seq("main", "db")
      dnsW("canonical") shouldBe Seq("main", "db")
      dnsW("marked") shouldBe Seq("main", "db")
    } finally wsrv.close()
  }

  test("views over REST: list/load/head serve the graft view as spec " +
    "view metadata; create lands a versioned view readable natively; " +
    "drop removes it; replace refuses with guidance") {
    sql("CREATE NAMESPACE g.restv")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restv")
    val exports = Files.createTempDirectory("graft-restv-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    try {
      sql("CREATE NAMESPACE g.restv.main.db")
      sql("CREATE TABLE g.restv.main.db.t (id INT, v STRING)")
      sql("INSERT INTO g.restv.main.db.t VALUES (1, 'a'), (2, 'b')")
      // Spark's SQL CREATE VIEW does not route to v2 ViewCatalogs; the
      // native create goes through the catalog API (as ViewSqlSpec does)
      locally {
        val vcat = graft.catalog.GraftViews.viewCatalog(spark, "g")
        val vident = org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("restv", "main", "db"), "tv")
        val vsql = "SELECT id, upper(v) AS uv FROM t WHERE id > 1"
        val inferred = org.apache.spark.sql.graftbridge.ViewContextBridge
          .sqlWith(spark, "g", vident.namespace(), vsql).schema
        vcat.createView(new org.apache.spark.sql.connector.catalog.ViewInfo(
          vident, vsql, "g", vident.namespace(), inferred,
          inferred.fieldNames, Array.empty, Array.empty,
          java.util.Map.of()))
      }

      // list + head
      val (cL, ids) = get(s"/v1/namespaces/${enc("main", "db")}/views", srv)
      cL shouldBe 200
      val names = {
        val it = ids.get("identifiers").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(_.get("name").asText()).toSeq
      }
      names shouldBe Seq("tv")
      get(s"/v1/namespaces/${enc("main", "db")}/views/missing", srv)
        ._1 shouldBe 404

      // load: spec-shaped view metadata, spark SQL representation,
      // branch-rebound default-namespace, real metadata-location
      val (cV, load) = get(s"/v1/namespaces/${enc("main", "db")}/views/tv", srv)
      cV shouldBe 200
      val vm = load.get("metadata")
      vm.get("format-version").asInt() shouldBe 1
      vm.get("current-version-id").asInt() shouldBe 1
      val ver = vm.get("versions").elements().next()
      val rep = ver.get("representations").elements().next()
      rep.get("dialect").asText() shouldBe "spark"
      rep.get("sql").asText() should include ("upper")
      val dns = {
        val it = ver.get("default-namespace").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(_.asText()).toSeq
      }
      dns.head shouldBe "main" // branch segment rebound to the served ref
      val schemaFields = vm.get("schemas").elements().next().get("fields")
      schemaFields.size() shouldBe 2
      java.nio.file.Files.exists(java.nio.file.Paths.get(
        load.get("metadata-location").asText())) shouldBe true
      // memoized: a second load serves the same metadata file
      get(s"/v1/namespaces/${enc("main", "db")}/views/tv", srv)
        ._2.get("metadata-location").asText() shouldBe
        load.get("metadata-location").asText()

      // create over REST -> natively readable versioned view
      val (cC, _) = send("POST", s"/v1/namespaces/${enc("main", "db")}/views",
        """{"name":"w","schema":{"type":"struct","schema-id":0,"fields":[
          |{"id":1,"name":"one","required":false,"type":"int"}]},
          |"view-version":{"version-id":1,"timestamp-ms":1700000000000,
          |"schema-id":0,"summary":{},
          |"representations":[{"type":"sql","sql":"SELECT 1 AS one",
          |"dialect":"spark"}],
          |"default-namespace":["main","db"]},
          |"properties":{"comment":"rest-created"}}"""
          .stripMargin.replaceAll("\n", ""), srv)
      cC shouldBe 200
      sql("SELECT * FROM g.restv.main.db.w")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(1)
      // duplicate create -> 409
      send("POST", s"/v1/namespaces/${enc("main", "db")}/views",
        """{"name":"w","schema":{"type":"struct","schema-id":0,"fields":[
          |{"id":1,"name":"one","required":false,"type":"int"}]},
          |"view-version":{"version-id":1,"timestamp-ms":1700000000000,
          |"schema-id":0,"summary":{},
          |"representations":[{"type":"sql","sql":"SELECT 1 AS one",
          |"dialect":"spark"}],
          |"default-namespace":["main","db"]}}"""
          .stripMargin.replaceAll("\n", ""), srv)._1 shouldBe 409

      // replace (CREATE OR REPLACE VIEW): the new definition lands in
      // one view commit and native reads see it immediately
      val (cR, eR) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/views/w",
        """{"requirements":[],"updates":[
          |{"action":"add-view-version","view-version":{"version-id":2,
          |"timestamp-ms":1700000001000,"schema-id":0,"summary":{},
          |"representations":[{"type":"sql","sql":"SELECT 2 AS one",
          |"dialect":"spark"}],
          |"default-namespace":["main","db"]}},
          |{"action":"set-current-view-version","view-version-id":-1},
          |{"action":"set-properties","updates":{"replaced":"yes"}}]}"""
          .stripMargin.replaceAll("\n", ""), srv)
      withClue(eR.toString) { cR shouldBe 200 }
      sql("SELECT * FROM g.restv.main.db.w")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(2)
      eR.get("metadata").get("properties").get("replaced")
        .asText() shouldBe "yes"
      // a stale view-uuid requirement answers 409
      send("POST", s"/v1/namespaces/${enc("main", "db")}/views/w",
        """{"requirements":[{"type":"assert-view-uuid",
          |"uuid":"00000000-0000-0000-0000-000000000000"}],
          |"updates":[]}""".stripMargin.replaceAll("\n", ""), srv)
        ._1 shouldBe 409
      // replacing a missing view is 404
      send("POST", s"/v1/namespaces/${enc("main", "db")}/views/nosuch",
        """{"requirements":[],"updates":[]}""", srv)._1 shouldBe 404
      send("DELETE", s"/v1/namespaces/${enc("main", "db")}/views/w",
        "", srv)._1 shouldBe 204
      get(s"/v1/namespaces/${enc("main", "db")}/views/w", srv)._1 shouldBe 404
      intercept[Exception] {
        sql("SELECT * FROM g.restv.main.db.w").collect()
      }
    } finally srv.close()
  }

  test("writable server: NESTED schema evolution over REST — add and " +
    "rename struct members by field-id diff; old rows answer nulls " +
    "for the added member") {
    sql("CREATE NAMESPACE g.restns")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restns")
    val exports = Files.createTempDirectory("graft-restns-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    try {
      sql("CREATE NAMESPACE g.restns.main.db")
      sql("CREATE TABLE g.restns.main.db.n " +
        "(id INT, s STRUCT<a: INT, b: STRING>)")
      sql("INSERT INTO g.restns.main.db.n VALUES " +
        "(1, named_struct('a', 10, 'b', 'x'))")
      val meta = get(s"/v1/namespaces/${enc("main", "db")}/tables/n", srv)
        ._2.get("metadata")
      val s1 = meta.get("schemas").elements().next()
        .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      s1.put("schema-id", 1)
      val sField = {
        val it = s1.withArray("fields").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .find(_.get("name").asText() == "s").get
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      }
      val inner = sField.get("type")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val fit = inner.withArray("fields").elements()
      while (fit.hasNext) {
        val f = fit.next()
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        if (f.get("name").asText() == "b") f.put("name", "bb")
      }
      val nf = mapper.createObjectNode()
      nf.put("id", meta.get("last-column-id").asInt() + 1)
      nf.put("name", "c"); nf.put("required", false); nf.put("type", "long")
      inner.withArray("fields").add(nf)
      val (c1, e1) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/n",
        s"""{"requirements":[
           |{"type":"assert-table-uuid",
           |"uuid":"${meta.get("table-uuid").asText()}"}],
           |"updates":[
           |{"action":"add-schema","schema":${mapper.writeValueAsString(s1)}},
           |{"action":"set-current-schema","schema-id":-1}]}"""
          .stripMargin.replaceAll("\n", ""), srv)
      withClue(e1.toString) { c1 shouldBe 200 }
      // renamed member reads old bytes; added member is null in old rows
      val row = sql("SELECT s.a, s.bb, s.c FROM g.restns.main.db.n")
        .collect().head
      row.getInt(0) shouldBe 10
      row.getString(1) shouldBe "x"
      row.isNullAt(2) shouldBe true
      // and a native write under the evolved schema round-trips
      sql("INSERT INTO g.restns.main.db.n VALUES " +
        "(2, named_struct('a', 20, 'bb', 'y', 'c', 200L))")
      sql("SELECT s.c FROM g.restns.main.db.n WHERE id = 2")
        .collect().head.getLong(0) shouldBe 200L
    } finally srv.close()
  }

  test("register-table re-homes an existing Iceberg table: live rows " +
    "(deletes applied) land as native graft files in one commit; " +
    "duplicate register answers 409") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.regsrc")
    sql("CREATE NAMESPACE g.regsrc.main.db")
    sql("CREATE TABLE g.regsrc.main.db.src (id INT, v STRING)")
    sql("INSERT INTO g.regsrc.main.db.src VALUES (1,'a'), (2,'b'), (3,'c')")
    sql("DELETE FROM g.regsrc.main.db.src WHERE id = 2")
    val srcRoot = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "regsrc")
    val metaP = graft.versioned.IcebergExport.export(
      GraftRepo.open(srcRoot), "main", "db/src",
      Files.createTempDirectory("graft-reg-export"), Some(spark), 1, 1, 0)

    sql("CREATE NAMESPACE g.regdst")
    val dstRoot = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "regdst")
    val exports = Files.createTempDirectory("graft-regdst-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(dstRoot),
      exports, Some(spark), writable = true)
    try {
      sql("CREATE NAMESPACE g.regdst.main.db")
      val bodyJson =
        s"""{"name":"adopted","metadata-location":"$metaP"}"""
      val (c1, r1) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/register", bodyJson, srv)
      withClue(r1.toString) { c1 shouldBe 200 }
      r1.get("metadata").get("current-snapshot-id").asLong() should not be -1L
      // rows are graft-native now (delete applied at import time)
      sql("SELECT id, v FROM g.regdst.main.db.adopted ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (3, "c"))
      // and versioned like any graft table: branch + write + isolation
      sql("CREATE NAMESPACE g.regdst.exp") // zero-copy branch
      sql("INSERT INTO g.regdst.exp.db.adopted VALUES (9, 'z')")
      sql("SELECT count(*) FROM g.regdst.main.db.adopted")
        .collect().head.getLong(0) shouldBe 2L
      sql("SELECT count(*) FROM g.regdst.exp.db.adopted")
        .collect().head.getLong(0) shouldBe 3L
      // duplicate register refuses
      send("POST", s"/v1/namespaces/${enc("main", "db")}/register",
        bodyJson, srv)._1 shouldBe 409
    } finally srv.close()
  }

  test("partition-evolution requirements: assert-default-spec-id and " +
    "assert-last-assigned-partition-id validate against the served " +
    "metadata (matching passes, stale answers 409) — the requirement " +
    "pair iceberg-core posts on every ADD PARTITION FIELD") {
    sql("CREATE NAMESPACE g.reqs")
    sql("CREATE NAMESPACE g.reqs.main.db")
    sql("CREATE TABLE g.reqs.main.db.t (id INT, cat STRING)")
    sql("INSERT INTO g.reqs.main.db.t VALUES (1,'a'), (2,'b')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "reqs")
    val exports = Files.createTempDirectory("graft-reqs-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    try {
      val meta = get(s"/v1/namespaces/${enc("main", "db")}/tables/t", srv)
        ._2.get("metadata")
      val specId = meta.get("default-spec-id").asInt()
      val lastPid = meta.get("last-partition-id").asInt()
      val catId = {
        val it = meta.get("schemas").elements().next().get("fields").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .find(_.get("name").asText() == "cat").get.get("id").asInt()
      }
      def body(sid: Int, pid: Int): String =
        s"""{"requirements":[
           |{"type":"assert-table-uuid","uuid":"${meta.get("table-uuid").asText()}"},
           |{"type":"assert-default-spec-id","default-spec-id":$sid},
           |{"type":"assert-last-assigned-partition-id","last-assigned-partition-id":$pid}],
           |"updates":[
           |{"action":"add-partition-spec","spec":{"spec-id":1,"fields":[
           |{"source-id":$catId,"name":"cat","transform":"identity","field-id":1000}]}},
           |{"action":"set-default-spec","spec-id":-1}]}"""
          .stripMargin.replaceAll("\n", "")
      // stale requirement values → 409 with the engine's retry shape
      val (c9, e9) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/t",
        body(specId + 7, lastPid), srv)
      c9 shouldBe 409
      e9.get("error").get("type").asText() shouldBe "CommitFailedException"
      val (c8, _) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/t",
        body(specId, lastPid + 3), srv)
      c8 shouldBe 409
      // an engine's WRITE ORDERED BY: sort orders are advisory, the
      // commit lands as a no-op with its requirement validated
      val (cSo, eSo) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/t",
        s"""{"requirements":[
           |{"type":"assert-default-sort-order-id","default-sort-order-id":0}],
           |"updates":[
           |{"action":"add-sort-order","sort-order":{"order-id":1,"fields":[
           |{"source-id":$catId,"transform":"identity","direction":"asc",
           |"null-order":"nulls-first"}]}},
           |{"action":"set-default-sort-order","sort-order-id":-1}]}"""
          .stripMargin.replaceAll("\n", ""), srv)
      withClue(eSo.toString) { cSo shouldBe 200 } // bare order = no-op
      // an engine's ANALYZE TABLE (statistics-file pointer): accepted
      // and discarded — advisory metadata must not fail the engine
      send("POST", s"/v1/namespaces/${enc("main", "db")}/tables/t",
        """{"updates":[{"action":"set-statistics","snapshot-id":1,
          |"statistics":{"snapshot-id":1,"statistics-path":"/nowhere/s.puffin",
          |"file-size-in-bytes":1,"file-footer-size-in-bytes":1,
          |"blob-metadata":[]}}]}""".stripMargin.replaceAll("\n", ""),
        srv)._1 shouldBe 200
      send("POST", s"/v1/namespaces/${enc("main", "db")}/tables/t",
        s"""{"requirements":[
           |{"type":"assert-default-sort-order-id","default-sort-order-id":5}],
           |"updates":[{"action":"set-properties","updates":{"x":"y"}}]}"""
          .stripMargin.replaceAll("\n", ""), srv)._1 shouldBe 409
      // matching requirement values → the spec evolution lands
      val (cOk, eOk) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/t",
        body(specId, lastPid), srv)
      withClue(eOk.toString) { cOk shouldBe 200 }
      val g = GraftRepo.open(root)
      g.snapshot(g.resolve("main").tables("db/t")).partitionFields shouldBe
        Seq(graft.versioned.PartitionField("cat", "identity", "cat"))
    } finally srv.close()
  }

  test("multi-table TRANSACTION: fact + dim appends land in ONE graft " +
    "commit (together or not at all); a stale base on either table " +
    "409s the whole transaction; a CoW rewrite member lands atomically " +
    "with a sibling append; an append member that drops files refuses") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.txn")
    sql("CREATE NAMESPACE g.txn.main.db")
    sql("CREATE TABLE g.txn.main.db.fact (id INT, v STRING)")
    sql("CREATE TABLE g.txn.main.db.dim (id INT, name STRING)")
    sql("INSERT INTO g.txn.main.db.fact VALUES (1,'a')")
    sql("INSERT INTO g.txn.main.db.dim VALUES (10,'x')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "txn")
    val exports = Files.createTempDirectory("graft-txn-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-txn-scratch")
    try {
      def loadT(t: String) =
        get(s"/v1/namespaces/${enc("main", "db")}/tables/$t", srv)._2
      def change(t: String, snapId: Long, rows: Seq[(Int, String)],
          cols: (String, String)): String = {
        val load = loadT(t)
        val meta = load.get("metadata")
        val stage = java.nio.file.Paths.get(URI.create(
          meta.get("properties").get("write.data.path").asText() + "/"))
        val f = stage.resolve(s"$t-txn-$snapId.parquet")
        writeOneParquet(rows.toDF(cols._1, cols._2), f)
        val baseFiles = graft.versioned.IcebergImport.plan(
          java.nio.file.Paths.get(load.get("metadata-location").asText()))
          .dataPaths.map(java.nio.file.Paths.get(_))
        val list = stageWriterCommit(scratch, snapId, baseFiles :+ f)
        val refSnap = meta.get("refs").get("main")
          .get("snapshot-id").asLong()
        s"""{"identifier":{"namespace":["main","db"],"name":"$t"},
           |"requirements":[
           |{"type":"assert-table-uuid","uuid":"${meta.get("table-uuid").asText()}"},
           |{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$refSnap}],
           |"updates":[
           |{"action":"add-snapshot","snapshot":{"snapshot-id":$snapId,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"${list.toUri}",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":$snapId,"type":"branch"}]}"""
          .stripMargin.replaceAll("\n", "")
      }
      val body = s"""{"table-changes":[
        |${change("fact", 9001L, Seq((2, "b")), ("id", "v"))},
        |${change("dim", 9002L, Seq((20, "y")), ("id", "name"))}]}"""
        .stripMargin.replaceAll("\n", "")
      val g = graft.versioned.GraftRepo.open(root)
      val headBefore = g.headCommit("main").id
      val (c, e) = send("POST", "/v1/transactions/commit", body, srv)
      withClue(e.toString) { c shouldBe 204 }
      // ONE commit moved the branch, both tables' rows landed
      val headAfter = g.headCommit("main")
      headAfter.parents shouldBe Seq(headBefore)
      sql("SELECT id FROM g.txn.main.db.fact ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(1, 2)
      sql("SELECT id FROM g.txn.main.db.dim ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(10, 20)

      // property updates ride the same transaction commit
      val (cP, eP) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[
           |{"identifier":{"namespace":["main","db"],"name":"dim"},
           |"requirements":[],
           |"updates":[{"action":"set-properties",
           |"updates":{"owner":"etl"}}]}]}"""
          .stripMargin.replaceAll("\n", ""), srv)
      withClue(eP.toString) { cP shouldBe 204 }
      g.snapshot(g.resolve("main").tables("db/dim"))
        .properties.get("owner") shouldBe Some("etl")
      // and the engine SEES it echoed on the next load (user properties
      // round-trip through the served metadata)
      loadT("dim").get("metadata").get("properties")
        .get("owner").asText() shouldBe "etl"

      // STALE base (built against pre-transaction metadata on dim,
      // fresh on fact): the WHOLE transaction 409s, fact does NOT land
      val freshFact = change("fact", 9003L, Seq((3, "c")), ("id", "v"))
      val staleDim = s"""{"identifier":{"namespace":["main","db"],"name":"dim"},
        |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main",
        |"snapshot-id":12345}],"updates":[]}"""
        .stripMargin.replaceAll("\n", "")
      val (cS, eS) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[$freshFact,$staleDim]}""", srv)
      cS shouldBe 409
      eS.get("error").get("type").asText() shouldBe "CommitFailedException"
      sql("SELECT count(*) FROM g.txn.main.db.fact")
        .collect().head.getLong(0) shouldBe 2L // 9003 did not land

      // a CoW REWRITE member (r15): the engine rewrites fact wholesale —
      // every base file dropped, one new file posted — while dim appends
      // in the SAME transaction; both land in ONE graft commit
      val loadF = loadT("fact")
      val metaF = loadF.get("metadata")
      val stageF = java.nio.file.Paths.get(URI.create(
        metaF.get("properties").get("write.data.path").asText() + "/"))
      val rewrittenF = stageF.resolve("fact-txn-rewrite.parquet")
      writeOneParquet(Seq((5, "e")).toDF("id", "v"), rewrittenF)
      val baseF = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(loadF.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      baseF.size should be >= 2 // the rewrite genuinely drops files
      val listDrop = stageWriterCommit(scratch, 9004L, Seq(rewrittenF))
      val refSnapF = metaF.get("refs").get("main").get("snapshot-id").asLong()
      val dropChange =
        s"""{"identifier":{"namespace":["main","db"],"name":"fact"},
           |"requirements":[
           |{"type":"assert-ref-snapshot-id","ref":"main",
           |"snapshot-id":$refSnapF}],
           |"updates":[{"action":"add-snapshot","snapshot":{
           |"snapshot-id":9004,"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"${listDrop.toUri}",
           |"summary":{"operation":"overwrite"}}}]}"""
          .stripMargin.replaceAll("\n", "")
      val headBeforeRw = g.headCommit("main").id
      val (cR, eR) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[$dropChange,${
          change("dim", 9005L, Seq((30, "z")), ("id", "name"))}]}""", srv)
      withClue(eR.toString) { cR shouldBe 204 }
      g.headCommit("main").parents shouldBe Seq(headBeforeRw)
      sql("SELECT id, v FROM g.txn.main.db.fact ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((5, "e"))
      sql("SELECT id FROM g.txn.main.db.dim ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(10, 20, 30)
      // an APPEND member that drops base files still refuses loudly
      val loadF2 = loadT("fact")
      val listDrop2 = stageWriterCommit(scratch, 9006L, Nil)
      val badAppend =
        s"""{"identifier":{"namespace":["main","db"],"name":"fact"},
           |"requirements":[],
           |"updates":[{"action":"add-snapshot","snapshot":{
           |"snapshot-id":9006,"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"${listDrop2.toUri}",
           |"summary":{"operation":"append"}}}]}"""
          .stripMargin.replaceAll("\n", "")
      val (cBad, eBad) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[$badAppend]}""", srv)
      cBad shouldBe 400
      eBad.get("error").get("message").asText() should include ("not an append")
    } finally srv.close()
  }

  test("multi-table TRANSACTION with a CTAS member: an assert-create " +
    "member and a sibling append land in ONE graft commit (the Flink " +
    "side-output-table checkpoint); the losing concurrent creator " +
    "409s the WHOLE transaction — its sibling's append rolls back " +
    "with it") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.txnc")
    sql("CREATE NAMESPACE g.txnc.main.db")
    sql("CREATE TABLE g.txnc.main.db.fact (id INT, v STRING)")
    sql("INSERT INTO g.txnc.main.db.fact VALUES (1,'a')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "txnc")
    val exports = Files.createTempDirectory("graft-txnc-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-txnc-scratch")
    try {
      // engine stages the side-output table (stage-create: no commit)
      val (c0, stagedMeta) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables",
        """{"name":"side","stage-create":true,"schema":{"type":"struct",
          |"schema-id":0,"fields":[
          |{"id":1,"name":"id","required":false,"type":"int"},
          |{"id":2,"name":"v","required":false,"type":"string"}]}}"""
          .stripMargin.replaceAll("\n", ""), srv)
      c0 shouldBe 200
      val sm = stagedMeta.get("metadata")
      val stage = java.nio.file.Paths.get(URI.create(
        sm.get("properties").get("write.data.path").asText() + "/"))
      def createMember(snapId: Long, rows: Seq[(Int, String)]): String = {
        val f = stage.resolve(s"side-$snapId.parquet")
        writeOneParquet(rows.toDF("id", "v"), f)
        val list = stageWriterCommit(scratch, snapId, Seq(f))
        s"""{"identifier":{"namespace":["main","db"],"name":"side"},
           |"requirements":[{"type":"assert-create"}],"updates":[
           |{"action":"assign-uuid","uuid":"${sm.get("table-uuid").asText()}"},
           |{"action":"add-schema","schema":${mapper.writeValueAsString(
               sm.get("schemas").elements().next())}},
           |{"action":"set-current-schema","schema-id":-1},
           |{"action":"add-partition-spec","spec":{"spec-id":0,"fields":[]}},
           |{"action":"set-default-spec","spec-id":-1},
           |{"action":"set-properties","updates":{"owner":"flink"}},
           |{"action":"add-snapshot","snapshot":{"snapshot-id":$snapId,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"${list.toUri}",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":$snapId,"type":"branch"}]}"""
          .stripMargin.replaceAll("\n", "")
      }
      def factMember(snapId: Long, rows: Seq[(Int, String)]): String = {
        val load = get(s"/v1/namespaces/${enc("main", "db")}/tables/fact",
          srv)._2
        val meta = load.get("metadata")
        val fstage = java.nio.file.Paths.get(URI.create(
          meta.get("properties").get("write.data.path").asText() + "/"))
        val f = fstage.resolve(s"fact-txnc-$snapId.parquet")
        writeOneParquet(rows.toDF("id", "v"), f)
        val baseFiles = graft.versioned.IcebergImport.plan(
          java.nio.file.Paths.get(load.get("metadata-location").asText()))
          .dataPaths.map(java.nio.file.Paths.get(_))
        val list = stageWriterCommit(scratch, snapId, baseFiles :+ f)
        val refSnap = meta.get("refs").get("main").get("snapshot-id").asLong()
        s"""{"identifier":{"namespace":["main","db"],"name":"fact"},
           |"requirements":[
           |{"type":"assert-ref-snapshot-id","ref":"main",
           |"snapshot-id":$refSnap}],
           |"updates":[{"action":"add-snapshot","snapshot":{
           |"snapshot-id":$snapId,"timestamp-ms":1700000000000,
           |"schema-id":0,"manifest-list":"${list.toUri}",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":$snapId,"type":"branch"}]}"""
          .stripMargin.replaceAll("\n", "")
      }
      val g = graft.versioned.GraftRepo.open(root)
      val headBefore = g.headCommit("main").id
      val (c, e) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[${createMember(8801L, Seq((100, "s")))},${
          factMember(8802L, Seq((2, "b")))}]}""", srv)
      withClue(e.toString) { c shouldBe 204 }
      // ONE commit created the side table AND appended the sibling
      g.headCommit("main").parents shouldBe Seq(headBefore)
      sql("SELECT id, v FROM g.txnc.main.db.side ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((100, "s"))
      sql("SELECT id FROM g.txnc.main.db.fact ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(1, 2)
      g.snapshot(g.resolve("main").tables("db/side"))
        .properties.get("owner") shouldBe Some("flink")

      // the LOSING racer: same create member again, riding a fresh
      // sibling append — the whole transaction 409s and the sibling's
      // rows never land
      val (cL, eL) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[${createMember(8803L, Seq((200, "t")))},${
          factMember(8804L, Seq((3, "c")))}]}""", srv)
      cL shouldBe 409
      eL.get("error").get("type").asText() shouldBe "AlreadyExistsException"
      sql("SELECT count(*) FROM g.txnc.main.db.side")
        .collect().head.getLong(0) shouldBe 1L
      sql("SELECT count(*) FROM g.txnc.main.db.fact")
        .collect().head.getLong(0) shouldBe 2L // 8804 rolled back with it
    } finally srv.close()
  }

  test("multi-table TRANSACTION with schema-update members: a " +
    "METADATA-ONLY evolution rides a sibling's append in ONE graft " +
    "commit, and a member combining a schema update WITH a snapshot " +
    "(the checkpoint that widens AND appends one table) lands " +
    "atomically too — all-or-nothing on a stale member") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.txnev")
    sql("CREATE NAMESPACE g.txnev.main.db")
    sql("CREATE TABLE g.txnev.main.db.fact (id INT, v STRING)")
    sql("CREATE TABLE g.txnev.main.db.wide (id INT, v STRING)")
    sql("INSERT INTO g.txnev.main.db.fact VALUES (1,'a')")
    sql("INSERT INTO g.txnev.main.db.wide VALUES (5,'w')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "txnev")
    val exports = Files.createTempDirectory("graft-txnev-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-txnev-scratch")
    try {
      def loadT(t: String) =
        get(s"/v1/namespaces/${enc("main", "db")}/tables/$t", srv)._2
      def reqsOf(meta: JsonNode): String = {
        val refSnap = meta.get("refs").get("main").get("snapshot-id").asLong()
        s"""[{"type":"assert-table-uuid",
           |"uuid":"${meta.get("table-uuid").asText()}"},
           |{"type":"assert-ref-snapshot-id","ref":"main",
           |"snapshot-id":$refSnap}]""".stripMargin.replaceAll("\n", "")
      }
      def schemaUpd(meta: JsonNode): String = {
        import scala.jdk.CollectionConverters._
        val s0 = meta.get("schemas").elements().next()
        val fields = s0.get("fields").elements().asScala.toSeq
        val maxId = fields.map(_.get("id").asInt()).max
        s"""{"action":"add-schema","schema":{"type":"struct",
           |"schema-id":1,"fields":[${fields.mkString(",")},
           |{"id":${maxId + 1},"name":"flag","required":false,
           |"type":"long"}]}},
           |{"action":"set-current-schema","schema-id":-1}"""
          .stripMargin.replaceAll("\n", "")
      }
      val loadF = loadT("fact"); val metaF = loadF.get("metadata")
      val stage = java.nio.file.Paths.get(URI.create(
        metaF.get("properties").get("write.data.path").asText() + "/"))
      val f = stage.resolve("fact-txnev.parquet")
      writeOneParquet(Seq((2, "b")).toDF("id", "v"), f)
      val baseF = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(loadF.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val list = stageWriterCommit(scratch, 9101L, baseF :+ f)
      val appendMember =
        s"""{"identifier":{"namespace":["main","db"],"name":"fact"},
           |"requirements":${reqsOf(metaF)},
           |"updates":[
           |{"action":"add-snapshot","snapshot":{"snapshot-id":9101,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"${list.toUri}",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":9101,"type":"branch"}]}"""
          .stripMargin.replaceAll("\n", "")
      val metaW = loadT("wide").get("metadata")
      val evolveMember =
        s"""{"identifier":{"namespace":["main","db"],"name":"wide"},
           |"requirements":${reqsOf(metaW)},
           |"updates":[${schemaUpd(metaW)}]}"""
          .stripMargin.replaceAll("\n", "")
      val g = graft.versioned.GraftRepo.open(root)
      val headBefore = g.headCommit("main").id
      val (c, e) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[$appendMember,$evolveMember]}""", srv)
      withClue(e.toString) { c shouldBe 204 }
      // ONE commit: the append and the sibling evolution are atomic
      g.headCommit("main").parents shouldBe Seq(headBefore)
      sql("SELECT id FROM g.txnev.main.db.fact ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(1, 2)
      // the evolved table answers under the widened schema: the
      // pre-evolution row reads NULL for the added column
      val w = sql("SELECT id, v, flag FROM g.txnev.main.db.wide").collect()
      w.map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe Seq((5, "w"))
      w.head.isNullAt(2) shouldBe true

      // a member combining add-schema WITH add-snapshot — the engine
      // checkpoint that widens AND appends the SAME table atomically —
      // lands: the member's file is written under the schema it adds,
      // and a sibling append rides the same commit (r15)
      val loadF2 = loadT("fact"); val metaF2 = loadF2.get("metadata")
      val baseF2 = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(loadF2.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val f2 = stage.resolve("fact-txnev-widened.parquet")
      writeOneParquet(Seq((3, "c", 30L)).toDF("id", "v", "flag"), f2)
      val list2 = stageWriterCommit(scratch, 9102L, baseF2 :+ f2)
      val mixed =
        s"""{"identifier":{"namespace":["main","db"],"name":"fact"},
           |"requirements":${reqsOf(metaF2)},
           |"updates":[${schemaUpd(metaF2)},
           |{"action":"add-snapshot","snapshot":{"snapshot-id":9102,
           |"timestamp-ms":1700000000000,"schema-id":1,
           |"manifest-list":"${list2.toUri}",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":9102,"type":"branch"}]}"""
          .stripMargin.replaceAll("\n", "")
      // sibling: a plain append on wide (already-widened) in the SAME
      // transaction — proves the combined member coexists with others
      val loadW2 = loadT("wide"); val metaW2 = loadW2.get("metadata")
      val stageW = java.nio.file.Paths.get(URI.create(
        metaW2.get("properties").get("write.data.path").asText() + "/"))
      val fW = stageW.resolve("wide-txnev-sib.parquet")
      writeOneParquet(Seq((6, "x", 60L)).toDF("id", "v", "flag"), fW)
      val baseW2 = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(loadW2.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val listW = stageWriterCommit(scratch, 9103L, baseW2 :+ fW)
      val sibAppend =
        s"""{"identifier":{"namespace":["main","db"],"name":"wide"},
           |"requirements":${reqsOf(metaW2)},
           |"updates":[
           |{"action":"add-snapshot","snapshot":{"snapshot-id":9103,
           |"timestamp-ms":1700000000000,"schema-id":1,
           |"manifest-list":"${listW.toUri}",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":9103,"type":"branch"}]}"""
          .stripMargin.replaceAll("\n", "")
      val headBefore2 = g.headCommit("main").id
      val (cM, eM) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[$mixed,$sibAppend]}""", srv)
      withClue(eM.toString) { cM shouldBe 204 }
      g.headCommit("main").parents shouldBe Seq(headBefore2)
      // fact widened AND appended atomically: old rows NULL-read the
      // added column, the new row carries its value
      sql("SELECT id, v, flag FROM g.txnev.main.db.fact ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq shouldBe
        Seq((1, "a", -1L), (2, "b", -1L), (3, "c", 30L))
      sql("SELECT id FROM g.txnev.main.db.wide ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(5, 6)

      // ALL-OR-NOTHING: the same combined shape against a STALE base
      // 409s the whole transaction and neither member lands
      val loadF3 = loadT("fact"); val metaF3 = loadF3.get("metadata")
      val staleMixed =
        s"""{"identifier":{"namespace":["main","db"],"name":"fact"},
           |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main",
           |"snapshot-id":424242}],
           |"updates":[${schemaUpd(metaF3)}]}"""
          .stripMargin.replaceAll("\n", "")
      val loadW3 = loadT("wide"); val metaW3 = loadW3.get("metadata")
      val fW3 = stageW.resolve("wide-txnev-stale.parquet")
      writeOneParquet(Seq((7, "y", 70L)).toDF("id", "v", "flag"), fW3)
      val baseW3 = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(loadW3.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val listW3 = stageWriterCommit(scratch, 9104L, baseW3 :+ fW3)
      val freshSib =
        s"""{"identifier":{"namespace":["main","db"],"name":"wide"},
           |"requirements":${reqsOf(metaW3)},
           |"updates":[
           |{"action":"add-snapshot","snapshot":{"snapshot-id":9104,
           |"timestamp-ms":1700000000000,"schema-id":1,
           |"manifest-list":"${listW3.toUri}",
           |"summary":{"operation":"append"}}}]}"""
          .stripMargin.replaceAll("\n", "")
      val (cSt, eSt) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[$staleMixed,$freshSib]}""", srv)
      cSt shouldBe 409
      eSt.get("error").get("type").asText() shouldBe "CommitFailedException"
      sql("SELECT count(*) FROM g.txnev.main.db.wide")
        .collect().head.getLong(0) shouldBe 2L // 9104 did not land
    } finally srv.close()
  }

  test("multi-table TRANSACTION with an EQUALITY-DELETE member (the " +
    "Flink-upsert checkpoint): one member's content=2 delete files " +
    "lower onto a tombstone with same-commit adds exempt, a sibling " +
    "appends, all in ONE graft commit; any stale member 409s the " +
    "whole transaction; a POSITIONAL-delete member lands via the " +
    "staged per-table rewrite (r15)") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.txneq")
    sql("CREATE NAMESPACE g.txneq.main.db")
    sql("CREATE TABLE g.txneq.main.db.ups (id INT, v STRING)")
    sql("CREATE TABLE g.txneq.main.db.sib (id INT, v STRING)")
    sql("INSERT INTO g.txneq.main.db.ups VALUES (1,'a'), (2,'b'), (3,'c')")
    sql("INSERT INTO g.txneq.main.db.sib VALUES (10,'x')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "txneq")
    val exports = Files.createTempDirectory("graft-txneq-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-txneq-scratch")
    try {
      def loadT(t: String) =
        get(s"/v1/namespaces/${enc("main", "db")}/tables/$t", srv)._2
      def reqsOf(meta: JsonNode): String = {
        val refSnap = meta.get("refs").get("main").get("snapshot-id").asLong()
        s"""[{"type":"assert-table-uuid",
           |"uuid":"${meta.get("table-uuid").asText()}"},
           |{"type":"assert-ref-snapshot-id","ref":"main",
           |"snapshot-id":$refSnap}]""".stripMargin.replaceAll("\n", "")
      }
      def stageOf(meta: JsonNode) = java.nio.file.Paths.get(URI.create(
        meta.get("properties").get("write.data.path").asText() + "/"))
      def basePathsOf(load: JsonNode) = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      // the upsert member: UPDATE id=2 as Flink posts it — an eq
      // delete on id=2 plus the replacement row in a same-commit add
      // (which the strictly-lower rule exempts from the delete)
      val loadU = loadT("ups"); val metaU = loadU.get("metadata")
      val idFieldId = {
        val it = metaU.get("schemas").elements().next()
          .get("fields").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .find(_.get("name").asText() == "id").get.get("id").asInt()
      }
      val addU = stageOf(metaU).resolve("ups-txn-ckpt.parquet")
      writeOneParquet(Seq((2, "B2"), (4, "d")).toDF("id", "v"), addU)
      val eqDel = stageOf(metaU).resolve("ups-txn-eq.parquet")
      writeOneParquet(Seq(2).toDF("id"), eqDel)
      val listU = stageMixedDeleteCommit(scratch, 9201L,
        basePathsOf(loadU) :+ addU,
        Seq((eqDel, 2, Some(Seq(idFieldId)))))
      val upsertMember =
        s"""{"identifier":{"namespace":["main","db"],"name":"ups"},
           |"requirements":${reqsOf(metaU)},
           |"updates":[
           |{"action":"add-snapshot","snapshot":{"snapshot-id":9201,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"${listU.toUri}",
           |"summary":{"operation":"overwrite"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":9201,"type":"branch"}]}"""
          .stripMargin.replaceAll("\n", "")
      def sibMember(snapId: Long, fname: String, row: (Int, String),
          reqsOverride: Option[String] = None): String = {
        val loadS = loadT("sib"); val metaS = loadS.get("metadata")
        val fS = stageOf(metaS).resolve(fname)
        writeOneParquet(Seq(row).toDF("id", "v"), fS)
        val listS = stageWriterCommit(scratch, snapId,
          basePathsOf(loadS) :+ fS)
        s"""{"identifier":{"namespace":["main","db"],"name":"sib"},
           |"requirements":${reqsOverride.getOrElse(reqsOf(metaS))},
           |"updates":[
           |{"action":"add-snapshot","snapshot":{"snapshot-id":$snapId,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"${listS.toUri}",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":$snapId,"type":"branch"}]}"""
          .stripMargin.replaceAll("\n", "")
      }
      val g = graft.versioned.GraftRepo.open(root)
      val headBefore = g.headCommit("main").id
      val (c, e) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[$upsertMember,${
          sibMember(9202L, "sib-txn.parquet", (20, "y"))}]}""", srv)
      withClue(e.toString) { c shouldBe 204 }
      g.headCommit("main").parents shouldBe Seq(headBefore)
      // (2,'b') eq-deleted in the base; (2,'B2') survives (same-commit
      // add, strictly-lower exemption); sibling append landed — atomic
      sql("SELECT id, v FROM g.txneq.main.db.ups ORDER BY id, v")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (2, "B2"), (3, "c"), (4, "d"))
      sql("SELECT id FROM g.txneq.main.db.sib ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(10, 20)
      val snapU = g.snapshot(g.resolve("main").tables("db/ups"))
      graft.versioned.Tombstones.of(snapU).size shouldBe 1

      // STALE upsert member + fresh sibling: the WHOLE transaction
      // 409s, the sibling's append does NOT land
      val loadU2 = loadT("ups"); val metaU2 = loadU2.get("metadata")
      val eqDel2 = stageOf(metaU2).resolve("ups-txn-eq2.parquet")
      writeOneParquet(Seq(4).toDF("id"), eqDel2)
      val listU2 = stageMixedDeleteCommit(scratch, 9203L,
        basePathsOf(loadU2), Seq((eqDel2, 2, Some(Seq(idFieldId)))))
      val staleUpsert =
        s"""{"identifier":{"namespace":["main","db"],"name":"ups"},
           |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main",
           |"snapshot-id":555555}],
           |"updates":[
           |{"action":"add-snapshot","snapshot":{"snapshot-id":9203,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"${listU2.toUri}",
           |"summary":{"operation":"overwrite"}}}]}"""
          .stripMargin.replaceAll("\n", "")
      val (cS, eS) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[$staleUpsert,${
          sibMember(9204L, "sib-txn-stale.parquet", (30, "z"))}]}""", srv)
      cS shouldBe 409
      eS.get("error").get("type").asText() shouldBe "CommitFailedException"
      sql("SELECT count(*) FROM g.txneq.main.db.sib")
        .collect().head.getLong(0) shouldBe 2L
      sql("SELECT count(*) FROM g.txneq.main.db.ups WHERE id = 4")
        .collect().head.getLong(0) shouldBe 1L

      // an eq-delete member claiming operation=append refuses 400
      val loadU3 = loadT("ups"); val metaU3 = loadU3.get("metadata")
      val eqDel3 = stageOf(metaU3).resolve("ups-txn-eq3.parquet")
      writeOneParquet(Seq(1).toDF("id"), eqDel3)
      val listU3 = stageMixedDeleteCommit(scratch, 9205L,
        basePathsOf(loadU3), Seq((eqDel3, 2, Some(Seq(idFieldId)))))
      val appendEq =
        s"""{"identifier":{"namespace":["main","db"],"name":"ups"},
           |"requirements":${reqsOf(metaU3)},
           |"updates":[
           |{"action":"add-snapshot","snapshot":{"snapshot-id":9205,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"${listU3.toUri}",
           |"summary":{"operation":"append"}}}]}"""
          .stripMargin.replaceAll("\n", "")
      val (cA, eA) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[$appendEq]}""", srv)
      cA shouldBe 400
      eA.get("error").get("message").asText() should include ("equality")

      // a POSITIONAL-delete member (r15) lands: the per-table CoW
      // rewrite runs in staging, the survivors register inside the
      // atomic fold, and a sibling append rides the SAME transaction.
      // The posted position names row 0 of the original 3-row file —
      // (1,'a') — whose row (2,'b') is ALREADY masked by the earlier
      // eq tombstone: the rewrite must apply both (no resurrection)
      val dirtyPath = basePathsOf(loadU3).find(p =>
        spark.read.parquet(p.toString).collect()
          .exists(r => r.getInt(0) == 1)).get
      val posDel = stageOf(metaU3).resolve("ups-txn-pos.parquet")
      writeOneParquet(Seq((dirtyPath.toUri.toString, 0L))
        .toDF("file_path", "pos"), posDel)
      val listP = stageMixedDeleteCommit(scratch, 9206L,
        basePathsOf(loadU3), Seq((posDel, 1, None)))
      def posMember(op: String): String =
        s"""{"identifier":{"namespace":["main","db"],"name":"ups"},
           |"requirements":${reqsOf(metaU3)},
           |"updates":[
           |{"action":"add-snapshot","snapshot":{"snapshot-id":9206,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"${listP.toUri}",
           |"summary":{"operation":"$op"}}}]}"""
          .stripMargin.replaceAll("\n", "")
      // claiming operation=append still refuses loudly
      val (cPA, ePA) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[${posMember("append")}]}""", srv)
      cPA shouldBe 400
      ePA.get("error").get("message").asText() should include ("positional")
      val headBeforeP = g.headCommit("main").id
      val (cP, eP) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[${posMember("delete")},${
          sibMember(9207L, "sib-txn-pos.parquet", (40, "w"))}]}""", srv)
      withClue(eP.toString) { cP shouldBe 204 }
      g.headCommit("main").parents shouldBe Seq(headBeforeP)
      // (1,'a') positionally deleted; (2,'b') stayed dead through the
      // rewrite (the existing tombstone rode the sub-plan); the
      // sibling's append landed in the same commit
      sql("SELECT id, v FROM g.txneq.main.db.ups ORDER BY id, v")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((2, "B2"), (3, "c"), (4, "d"))
      sql("SELECT id FROM g.txneq.main.db.sib ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(10, 20, 40)
      // the posdel lowering MATERIALIZES the positions — it must not
      // leave a new tombstone behind (the earlier eq tombstone stays:
      // it still masks the live (2,'b') file the rewrite never touched)
      val snapU2 = g.snapshot(g.resolve("main").tables("db/ups"))
      graft.versioned.Tombstones.of(snapU2).size should be <= 1
    } finally srv.close()
  }

  test("transactions route on a PREFIXED (warehouse) server: " +
    "/v1/{repo}/transactions/commit lands, wrong prefix 404s") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.wtxn")
    sql("CREATE NAMESPACE g.wtxn.main.db")
    sql("CREATE TABLE g.wtxn.main.db.t (id INT, v STRING)")
    sql("INSERT INTO g.wtxn.main.db.t VALUES (1,'a')")
    val reposRoot = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"))
    val exports = Files.createTempDirectory("graft-wtxn-exports")
    val srv = IcebergRestServer.startWarehouse(reposRoot, exports,
      Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-wtxn-scratch")
    try {
      val load = get(s"/v1/wtxn/namespaces/${enc("main", "db")}/tables/t",
        srv)._2
      val meta = load.get("metadata")
      val stage = java.nio.file.Paths.get(URI.create(
        meta.get("properties").get("write.data.path").asText() + "/"))
      val f = stage.resolve("t-wtxn.parquet")
      writeOneParquet(Seq((2, "b")).toDF("id", "v"), f)
      val baseFiles = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val list = stageWriterCommit(scratch, 9701L, baseFiles :+ f)
      val body = s"""{"table-changes":[
        |{"identifier":{"namespace":["main","db"],"name":"t"},
        |"requirements":[],
        |"updates":[
        |{"action":"add-snapshot","snapshot":{"snapshot-id":9701,
        |"timestamp-ms":1700000000000,"schema-id":0,
        |"manifest-list":"${list.toUri}",
        |"summary":{"operation":"append"}}}]}]}"""
        .stripMargin.replaceAll("\n", "")
      send("POST", "/v1/wtxn/transactions/commit", body, srv)._1 shouldBe 204
      sql("SELECT id FROM g.wtxn.main.db.t ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(1, 2)
      send("POST", "/v1/nosuchrepo/transactions/commit", body, srv)
        ._1 shouldBe 404
    } finally srv.close()
  }

  test("CONCURRENT transactions built against one served base and " +
    "touching the same table: exactly one lands, the loser gets 409, " +
    "and the winner's rows are intact") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.txnrace")
    sql("CREATE NAMESPACE g.txnrace.main.db")
    sql("CREATE TABLE g.txnrace.main.db.t (id INT, v STRING)")
    sql("INSERT INTO g.txnrace.main.db.t VALUES (1,'a')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "txnrace")
    val exports = Files.createTempDirectory("graft-txnrace-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-txnrace-scratch")
    try {
      val load = get(s"/v1/namespaces/${enc("main", "db")}/tables/t", srv)._2
      val meta = load.get("metadata")
      val stage = java.nio.file.Paths.get(URI.create(
        meta.get("properties").get("write.data.path").asText() + "/"))
      val baseFiles = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val refSnap = meta.get("refs").get("main").get("snapshot-id").asLong()
      def txnBody(tag: String, snapId: Long, row: (Int, String)): String = {
        val f = stage.resolve(s"t-race-$tag.parquet")
        writeOneParquet(Seq(row).toDF("id", "v"), f)
        val list = stageWriterCommit(scratch, snapId, baseFiles :+ f)
        s"""{"table-changes":[
           |{"identifier":{"namespace":["main","db"],"name":"t"},
           |"requirements":[
           |{"type":"assert-table-uuid","uuid":"${meta.get("table-uuid").asText()}"},
           |{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$refSnap}],
           |"updates":[
           |{"action":"add-snapshot","snapshot":{"snapshot-id":$snapId,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"${list.toUri}",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":$snapId,"type":"branch"}]}]}"""
          .stripMargin.replaceAll("\n", "")
      }
      // both transactions reference the SAME served base — fire together
      val bodies = Seq(txnBody("x", 9601L, (2, "x")),
        txnBody("y", 9602L, (3, "y")))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val results = bodies.map { b =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int = {
            gate.await()
            send("POST", "/v1/transactions/commit", b, srv)._1
          }
        })
      }
      gate.countDown()
      val codes = results.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      codes.sorted shouldBe Seq(204, 409)
      // exactly ONE row landed beyond the base
      val ids = sql("SELECT id FROM g.txnrace.main.db.t ORDER BY id")
        .collect().map(_.getInt(0)).toSeq
      ids.length shouldBe 2
      ids.head shouldBe 1
      Seq(2, 3) should contain (ids(1))
    } finally srv.close()
  }

  test("append on a MoR-tombstoned table: the engine RELISTS the served " +
    "delete files (real engines reuse delete manifests every commit) — " +
    "the append lands, deleted rows stay deleted, and no duplicate " +
    "tombstone accumulates") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.relist")
    sql("CREATE NAMESPACE g.relist.main.db")
    sql("CREATE TABLE g.relist.main.db.m (id INT, v STRING) " +
      "TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
    sql("INSERT INTO g.relist.main.db.m VALUES (1,'a'), (2,'b'), (3,'c')")
    sql("DELETE FROM g.relist.main.db.m WHERE id = 2") // MoR tombstone
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "relist")
    val exports = Files.createTempDirectory("graft-relist-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-relist-scratch")
    try {
      val (_, load) = get(s"/v1/namespaces/${enc("main", "db")}/tables/m", srv)
      val meta = load.get("metadata")
      val plan0 = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load.get("metadata-location").asText()))
      plan0.deleteFiles should not be empty // tombstone served as delete
      val baseFiles = plan0.dataPaths.map(java.nio.file.Paths.get(_))
      val servedDel = java.nio.file.Paths.get(plan0.deleteFiles.head.path)
      val servedIds = plan0.deleteFiles.head.equalityIds
      val stage = java.nio.file.Paths.get(URI.create(
        meta.get("properties").get("write.data.path").asText() + "/"))
      val add = stage.resolve("m-append.parquet")
      writeOneParquet(Seq((4, "d")).toDF("id", "v"), add)
      // the engine's append: base data + new file + the SERVED delete
      // file relisted verbatim (what iceberg-core's manifest reuse does)
      val list = stageMixedDeleteCommit(scratch, 7901L,
        baseFiles :+ add,
        Seq((servedDel, 2, Some(servedIds))))
      val (cA, eA) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/m",
        commitBody(meta, 7901L, list), srv) // op stays APPEND
      withClue(eA.toString) { cA shouldBe 200 }
      sql("SELECT id, v FROM g.relist.main.db.m ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (3, "c"), (4, "d"))
      // exactly the ONE original tombstone — nothing re-lowered
      val g = graft.versioned.GraftRepo.open(root)
      val snap = g.snapshot(g.resolve("main").tables("db/m"))
      graft.versioned.Tombstones.of(snap).size shouldBe 1
    } finally srv.close()
  }

  test("positional-delete commit against a table with a PRE-EXISTING " +
    "MoR tombstone (served delete file relisted): the server-side CoW " +
    "rewrite applies the existing tombstone to the dirty file's " +
    "survivors — the earlier-deleted key stays deleted, never " +
    "resurrected") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.pdres")
    sql("CREATE NAMESPACE g.pdres.main.db")
    sql("CREATE TABLE g.pdres.main.db.m (id INT, v STRING) " +
      "TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
    // ONE physical file holding all three rows — the resurrection
    // scenario needs the tombstoned row to share a file with the row
    // the engine later positionally deletes
    sql("INSERT INTO g.pdres.main.db.m SELECT /*+ COALESCE(1) */ * " +
      "FROM VALUES (1,'a'), (2,'b'), (3,'c') AS t(id, v)")
    sql("DELETE FROM g.pdres.main.db.m WHERE id = 2") // MoR tombstone
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "pdres")
    val exports = Files.createTempDirectory("graft-pdres-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-pdres-scratch")
    try {
      val (_, load) = get(s"/v1/namespaces/${enc("main", "db")}/tables/m", srv)
      val meta = load.get("metadata")
      val plan0 = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load.get("metadata-location").asText()))
      plan0.deleteFiles should not be empty // tombstone served as delete
      val servedDel = java.nio.file.Paths.get(plan0.deleteFiles.head.path)
      val servedIds = plan0.deleteFiles.head.equalityIds
      val baseFiles = plan0.dataPaths.map(java.nio.file.Paths.get(_))
      baseFiles.size shouldBe 1 // the COALESCE(1) insert made one file
      // the engine deletes id=3 by POSITION in its physical file — that
      // file still physically holds id=2, masked only by the tombstone
      val perFile = baseFiles.map { p =>
        p -> spark.read.parquet(p.toString)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("_metadata.row_index"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
      }
      val (dirtyFile, rows) = perFile.find(_._2.exists(_._1 == 3)).get
      rows.exists(_._1 == 2) shouldBe true // physically still present
      val pos3 = rows.find(_._1 == 3).get._2
      val stage = java.nio.file.Paths.get(URI.create(
        meta.get("properties").get("write.data.path").asText() + "/"))
      val del = stage.resolve("pdres-pos.parquet")
      writeOneParquet(Seq((dirtyFile.toUri.toString, pos3))
        .toDF("file_path", "pos"), del)
      // the engine's commit relists the served (equality) delete file —
      // real engines reuse delete manifests — plus its new positional one
      val list = stageMixedDeleteCommit(scratch, 7951L, baseFiles,
        Seq((servedDel, 2, Some(servedIds)), (del, 1, None)))
      val body = commitBody(meta, 7951L, list)
        .replace("\"operation\":\"append\"", "\"operation\":\"delete\"")
      val (c, e) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/m", body, srv)
      withClue(e.toString) { c shouldBe 200 }
      // id=2 (old tombstone) AND id=3 (new positions) are both gone
      sql("SELECT id, v FROM g.pdres.main.db.m ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"))
    } finally srv.close()
  }

  test("positional-delete commit dirtying more files than " +
    "spark.graft.rest.maxDirtyFiles refuses 400 — a malformed post " +
    "cannot balloon the driver-side distinct") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.pdcap")
    sql("CREATE NAMESPACE g.pdcap.main.db")
    sql("CREATE TABLE g.pdcap.main.db.c (id INT, v STRING)")
    sql("INSERT INTO g.pdcap.main.db.c VALUES (1,'a'), (2,'b')")
    sql("INSERT INTO g.pdcap.main.db.c VALUES (3,'c'), (4,'d')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "pdcap")
    val exports = Files.createTempDirectory("graft-pdcap-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-pdcap-scratch")
    try {
      val (_, load) = get(s"/v1/namespaces/${enc("main", "db")}/tables/c", srv)
      val meta = load.get("metadata")
      val baseFiles = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      baseFiles.size should be >= 2
      // which ids sit at position 0 of each base file (layout varies
      // with insert parallelism — compute, don't assume)
      val pos0Ids = baseFiles.map { p =>
        spark.read.parquet(p.toString)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("_metadata.row_index"))
          .collect().find(_.getLong(1) == 0L).get.getInt(0)
      }.toSet
      val stage = java.nio.file.Paths.get(URI.create(
        meta.get("properties").get("write.data.path").asText() + "/"))
      val del = stage.resolve("pdcap-pos.parquet")
      writeOneParquet(baseFiles.map(f => (f.toUri.toString, 0L))
        .toDF("file_path", "pos"), del)
      val list = stagePosDeleteCommit(scratch, 7961L, baseFiles, Seq(del))
      val body = commitBody(meta, 7961L, list)
        .replace("\"operation\":\"append\"", "\"operation\":\"delete\"")
      spark.conf.set("spark.graft.rest.maxDirtyFiles", "1")
      try {
        val (c, e) = send("POST",
          s"/v1/namespaces/${enc("main", "db")}/tables/c", body, srv)
        c shouldBe 400
        e.get("error").get("message").asText() should
          include ("maxDirtyFiles")
      } finally spark.conf.unset("spark.graft.rest.maxDirtyFiles")
      // same body with the cap lifted lands fine
      val (c2, e2) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/c", body, srv)
      withClue(e2.toString) { c2 shouldBe 200 }
      sql("SELECT id FROM g.pdcap.main.db.c ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe
        Seq(1, 2, 3, 4).filterNot(pos0Ids)
    } finally srv.close()
  }

  test("writable server: operation=replace (an external engine's OWN " +
    "compaction — rewrite_data_files) lands as a structural-compaction " +
    "graft commit: rows byte-identical, file count drops, the commit " +
    "carries the compact marker, CDC across it emits NOTHING, and a " +
    "stale base answers 409") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restrep")
    sql("CREATE NAMESPACE g.restrep.main.db")
    sql("CREATE TABLE g.restrep.main.db.c (id INT, v STRING)")
    sql("INSERT INTO g.restrep.main.db.c VALUES (1,'a'), (2,'b')")
    sql("INSERT INTO g.restrep.main.db.c VALUES (3,'c'), (4,'d')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restrep")
    val exports = Files.createTempDirectory("graft-restrep-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-rep-scratch")
    try {
      val g = graft.versioned.GraftRepo.open(root)
      g.createTag("precompact", "main")
      val filesBefore =
        g.snapshot(g.resolve("main").tables("db/c")).files.size
      filesBefore should be >= 2
      val (_, load) = get(s"/v1/namespaces/${enc("main", "db")}/tables/c", srv)
      val meta = load.get("metadata")
      val baseFiles = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val stage = java.nio.file.Paths.get(URI.create(
        meta.get("properties").get("write.data.path").asText() + "/"))
      // the engine's rewrite: all live rows, re-expressed as ONE file
      val compacted = stage.resolve("c-compacted.parquet")
      writeOneParquet(spark.read.parquet(baseFiles.map(_.toString): _*)
        .orderBy("id").coalesce(1), compacted)
      val list = stageWriterCommit(scratch, 7971L, Seq(compacted))
      val body = commitBody(meta, 7971L, list)
        .replace("\"operation\":\"append\"", "\"operation\":\"replace\"")
      val (c, e) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/c", body, srv)
      withClue(e.toString) { c shouldBe 200 }
      // rows identical, physically compacted, structurally marked
      sql("SELECT id, v FROM g.restrep.main.db.c ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"))
      val headC = g.headCommit("main")
      headC.markerOpt shouldBe
        Some(graft.versioned.Commit.CompactMarker)
      g.snapshot(headC.tables("db/c")).files.size shouldBe 1
      // CDC across the replace nets to zero — a row-preserving rewrite
      // is not a change
      graft.versioned.TableOps.changesBetween(spark, g,
        "precompact", "main", "db/c").count() shouldBe 0L
      // the SAME body again is a stale base → 409, refresh-and-retry
      val (cS, eS) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/c", body, srv)
      cS shouldBe 409
      eS.get("error").get("type").asText() shouldBe "CommitFailedException"
    } finally srv.close()
  }

  test("operation=replace refusals: retiring a served delete file that " +
    "still applies to a surviving base file answers 400 (rows it masks " +
    "would resurrect), and a replace posting NEW delete files answers " +
    "400") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.reprf")
    sql("CREATE NAMESPACE g.reprf.main.db")
    sql("CREATE TABLE g.reprf.main.db.m (id INT, v STRING) " +
      "TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
    sql("INSERT INTO g.reprf.main.db.m VALUES (1,'a'), (2,'b'), (3,'c')")
    sql("DELETE FROM g.reprf.main.db.m WHERE id = 2") // MoR tombstone
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "reprf")
    val exports = Files.createTempDirectory("graft-reprf-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-reprf-scratch")
    try {
      val (_, load) = get(s"/v1/namespaces/${enc("main", "db")}/tables/m", srv)
      val meta = load.get("metadata")
      val plan0 = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load.get("metadata-location").asText()))
      plan0.deleteFiles should not be empty
      val baseFiles = plan0.dataPaths.map(java.nio.file.Paths.get(_))
      // replace that keeps every base file but DROPS the served delete
      // file (no delete manifest at all) → the tombstone would stop
      // masking id=2 in the engine's view → 400
      val list = stageWriterCommit(scratch, 7981L, baseFiles)
      val body = commitBody(meta, 7981L, list)
        .replace("\"operation\":\"append\"", "\"operation\":\"replace\"")
      val (c, e) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/m", body, srv)
      c shouldBe 400
      e.get("error").get("message").asText() should include ("resurrect")

      // replace carrying a NEW equality delete file → 400 (deletes are
      // materialized by a rewrite, never added by one)
      val servedDel = java.nio.file.Paths.get(plan0.deleteFiles.head.path)
      val servedIds = plan0.deleteFiles.head.equalityIds
      val stage = java.nio.file.Paths.get(URI.create(
        meta.get("properties").get("write.data.path").asText() + "/"))
      val newDel = stage.resolve("reprf-newdel.parquet")
      writeOneParquet(Seq(3).toDF("id"), newDel)
      val list2 = stageMixedDeleteCommit(scratch, 7982L, baseFiles,
        Seq((servedDel, 2, Some(servedIds)), (newDel, 2, Some(servedIds))))
      val body2 = commitBody(meta, 7982L, list2)
        .replace("\"operation\":\"append\"", "\"operation\":\"replace\"")
      val (c2, e2) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/m", body2, srv)
      c2 shouldBe 400
      e2.get("error").get("message").asText() should include ("replace")
    } finally srv.close()
  }

  test("operation=replace row-preservation guard: a replace that GROWS " +
    "rows refuses 400 (an insert masquerading as compaction would hide " +
    "rows from CDC under the compact marker), an unmasked replace that " +
    "SHRINKS rows refuses 400, and a delete-materializing compaction " +
    "on a MoR table (legitimate shrink) still lands") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.reprc")
    sql("CREATE NAMESPACE g.reprc.main.db")
    sql("CREATE TABLE g.reprc.main.db.p (id INT, v STRING)")
    sql("INSERT INTO g.reprc.main.db.p VALUES (1,'a'), (2,'b')")
    sql("INSERT INTO g.reprc.main.db.p VALUES (3,'c'), (4,'d')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "reprc")
    val exports = Files.createTempDirectory("graft-reprc-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-reprc-scratch")
    try {
      def loadP(t: String) =
        get(s"/v1/namespaces/${enc("main", "db")}/tables/$t", srv)
      def replaceBody(meta: JsonNode, snapId: Long,
          list: java.nio.file.Path) =
        commitBody(meta, snapId, list)
          .replace("\"operation\":\"append\"", "\"operation\":\"replace\"")
      val (_, load0) = loadP("p")
      val meta0 = load0.get("metadata")
      val baseFiles = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load0.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val stage = java.nio.file.Paths.get(URI.create(
        meta0.get("properties").get("write.data.path").asText() + "/"))
      // GROWING "compaction": all live rows plus a smuggled insert
      val grown = stage.resolve("p-grown.parquet")
      writeOneParquet(spark.read.parquet(baseFiles.map(_.toString): _*)
        .unionByName(Seq((9, "SMUGGLED")).toDF("id", "v")).coalesce(1),
        grown)
      val (cG, eG) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/p",
        replaceBody(meta0, 7991L, stageWriterCommit(scratch, 7991L,
          Seq(grown))), srv)
      cG shouldBe 400
      eG.get("error").get("message").asText() should include ("grows")
      // SHRINKING "compaction" with nothing masked: silently losing a
      // row is not a rewrite
      val shrunk = stage.resolve("p-shrunk.parquet")
      writeOneParquet(spark.read.parquet(baseFiles.map(_.toString): _*)
        .filter("id <> 4").coalesce(1), shrunk)
      val (cS, eS) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/p",
        replaceBody(meta0, 7992L, stageWriterCommit(scratch, 7992L,
          Seq(shrunk))), srv)
      cS shouldBe 400
      eS.get("error").get("message").asText() should include ("exact")
      sql("SELECT count(*) FROM g.reprc.main.db.p")
        .collect().head.getLong(0) shouldBe 4L

      // a MoR table's delete-MATERIALIZING compaction shrinks
      // legitimately: the tombstone masked the dropped files, the
      // rewrite carries only live rows and retires the delete file
      sql("CREATE TABLE g.reprc.main.db.m (id INT, v STRING) " +
        "TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
      sql("INSERT INTO g.reprc.main.db.m VALUES (1,'a'), (2,'b'), (3,'c')")
      sql("DELETE FROM g.reprc.main.db.m WHERE id = 2")
      val (_, loadM) = loadP("m")
      val metaM = loadM.get("metadata")
      val planM = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(loadM.get("metadata-location").asText()))
      planM.deleteFiles should not be empty
      val stageM = java.nio.file.Paths.get(URI.create(
        metaM.get("properties").get("write.data.path").asText() + "/"))
      val mat = stageM.resolve("m-materialized.parquet")
      writeOneParquet(Seq((1, "a"), (3, "c")).toDF("id", "v"), mat)
      // drops every base file, posts the live rows, relists NO delete
      // file (retired — applies to nothing surviving)
      val (cM, eM) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/m",
        replaceBody(metaM, 7993L, stageWriterCommit(scratch, 7993L,
          Seq(mat))), srv)
      withClue(eM.toString) { cM shouldBe 200 }
      sql("SELECT id, v FROM g.reprc.main.db.m ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (3, "c"))

      // regression (jackson boxing): a replace on a table with a LIVE
      // tombstone that RELISTS the served delete file and drops only a
      // clean post-tombstone file evaluates the masked-rows predicate
      // against loaded FileEntry seqs — which jackson materializes as
      // boxed Integers inside Option[Long]; reading them via
      // seq.getOrElse unboxed to ClassCastException → HTTP 500 on a
      // legitimate engine compaction. Must land 200.
      sql("CREATE TABLE g.reprc.main.db.m2 (id INT, v STRING) " +
        "TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
      sql("INSERT INTO g.reprc.main.db.m2 VALUES (1,'a'), (2,'b')")
      sql("DELETE FROM g.reprc.main.db.m2 WHERE id = 2")
      sql("INSERT INTO g.reprc.main.db.m2 VALUES (5,'e')")
      val (_, loadM2) = loadP("m2")
      val metaM2 = loadM2.get("metadata")
      val planM2 = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(loadM2.get("metadata-location").asText()))
      planM2.deleteFiles should not be empty
      val baseM2 = planM2.dataPaths.map(java.nio.file.Paths.get(_))
      val dirtyM2 = baseM2.find(p =>
        spark.read.parquet(p.toString).collect()
          .exists(_.getInt(0) == 5)).get
      val keptM2 = baseM2.filterNot(_ == dirtyM2)
      val stageM2 = java.nio.file.Paths.get(URI.create(
        metaM2.get("properties").get("write.data.path").asText() + "/"))
      val rewrM2 = stageM2.resolve("m2-compacted.parquet")
      writeOneParquet(Seq((5, "e")).toDF("id", "v"), rewrM2)
      val servedDelM2 = java.nio.file.Paths.get(planM2.deleteFiles.head.path)
      val listM2 = stageMixedDeleteCommit(scratch, 7994L,
        keptM2 :+ rewrM2,
        Seq((servedDelM2, 2, Some(planM2.deleteFiles.head.equalityIds))))
      val (cB, eB) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/m2",
        replaceBody(metaM2, 7994L, listM2), srv)
      withClue(eB.toString) { cB shouldBe 200 }
      sql("SELECT id, v FROM g.reprc.main.db.m2 ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (5, "e"))
    } finally srv.close()
  }

  test("pagination over a 10k-table TREE-SEGMENTED branch SEEKS " +
    "through the chunked map: each page loads O(page) chunks — never " +
    "the full map — and the pages enumerate every table exactly once " +
    "in order") {
    // built directly through the versioned layer: 10k SQL creates
    // would dominate the test, and the listing never loads snapshots
    val root = Files.createTempDirectory("graft-pagseek")
    val repo = graft.versioned.GraftRepo.init(root)
    val (v0, head0) = repo.head("main")
    val all = (1 to 10000).map(i => f"db/t$i%05d" -> s"s$i").toMap
    repo.commitAt("main", v0, Seq(head0), "bulk", all, Map.empty)
    val exports = Files.createTempDirectory("graft-pagseek-exports")
    val srv = IcebergRestServer.start(repo, exports, Some(spark))
    try {
      val totalChunks = {
        graft.versioned.Trees.clearCache()
        repo.resolve("main").tables match {
          case t: graft.versioned.Trees.LazyTableMap =>
            t.iteratorFrom(None).size // materializes every chunk once
            graft.versioned.Trees.chunkReadCount
          case _ => fail("10k tables must be tree-segmented")
        }
      }
      totalChunks should be >= 5L // the seek claim needs many chunks
      def getPage(token: Option[String]): (Seq[String], Option[String], Long) = {
        graft.versioned.Trees.clearCache()
        val before = graft.versioned.Trees.chunkReadCount
        val q = "pageSize=100" +
          token.fold("")(t => s"&pageToken=$t")
        val (code, body) = get(
          s"/v1/namespaces/${enc("main", "db")}/tables?$q", srv)
        code shouldBe 200
        import scala.jdk.CollectionConverters._
        val names = Option(body.get("identifiers")).toSeq
          .flatMap(_.elements().asScala).map(_.get("name").asText()).toSeq
        (names, Option(body.get("next-page-token")).map(_.asText()),
          graft.versioned.Trees.chunkReadCount - before)
      }
      // walk the full listing page by page
      var token: Option[String] = None
      var seen = Vector.empty[String]
      var pages = 0
      var maxLoads = 0L
      var done = false
      while (!done) {
        val (names, next, loads) = getPage(token)
        seen ++= names
        pages += 1
        maxLoads = math.max(maxLoads, loads)
        token = next
        done = next.isEmpty
      }
      pages shouldBe 100
      seen.size shouldBe 10000
      seen shouldBe seen.sorted
      seen.distinct.size shouldBe 10000
      // THE scale claim: a 100-item page over a ~20-chunk 10k-table map
      // touches the chunks holding that page (+1 look-ahead), not all
      // of them — O(chunk + pageSize) per page, cold cache every page
      maxLoads should be <= 3L
      maxLoads should be < totalChunks
      // listing NAMESPACES of the same branch seeks too: the one child
      // ("db") is found and its whole 10k-key subtree skipped in one
      // successor seek — a couple of chunk loads, never a full walk
      graft.versioned.Trees.clearCache()
      val beforeNs = graft.versioned.Trees.chunkReadCount
      val (cn, bn) = get("/v1/namespaces?parent=main", srv)
      cn shouldBe 200
      import scala.jdk.CollectionConverters._
      bn.get("namespaces").elements().asScala
        .map(_.elements().asScala.map(_.asText()).toSeq).toSeq shouldBe
        Seq(Seq("main", "db"))
      (graft.versioned.Trees.chunkReadCount - beforeNs) should be <= 3L
    } finally srv.close()
  }

  test("engine ROLLBACK over REST: a bare set-snapshot-ref to a PRIOR " +
    "served snapshot (Spark's rollback_to_snapshot shape) swaps the " +
    "table pointer back zero-copy; an unknown snapshot id refuses 400; " +
    "rollback combined with property updates refuses 400; rollback " +
    "across a SCHEMA CHANGE lands as a file-set revert under the " +
    "current schema (r15)") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.rback")
    sql("CREATE NAMESPACE g.rback.main.db")
    sql("CREATE TABLE g.rback.main.db.r (id INT, v STRING)")
    sql("INSERT INTO g.rback.main.db.r VALUES (1,'a'), (2,'b')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rback")
    val exports = Files.createTempDirectory("graft-rback-exports")
    // history-serving server (maxSnapshots=5): the engine discovers
    // rollback targets from the served snapshots list — though a bare
    // id remembered from an EARLIER load works against a depth-1 server
    // too (the inversion walks graft history, not the served list)
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), maxSnapshots = 5, writable = true)
    val scratchRb = Files.createTempDirectory("rest-rback-scratch")
    try {
      def load() = get(s"/v1/namespaces/${enc("main", "db")}/tables/r", srv)
        ._2.get("metadata")
      val s1 = load().get("current-snapshot-id").asLong()
      sql("INSERT INTO g.rback.main.db.r VALUES (3,'c')")
      val meta2 = load()
      val s2 = meta2.get("current-snapshot-id").asLong()
      s2 should not be s1
      // the engine SEES s1 in the served history
      import scala.jdk.CollectionConverters._
      meta2.get("snapshots").elements().asScala
        .map(_.get("snapshot-id").asLong()).toSeq should contain (s1)
      def rollbackBody(meta: JsonNode, target: Long, extra: String = "") = {
        val refSnap = meta.get("refs").get("main").get("snapshot-id").asLong()
        s"""{"requirements":[
           |{"type":"assert-table-uuid",
           |"uuid":"${meta.get("table-uuid").asText()}"},
           |{"type":"assert-ref-snapshot-id","ref":"main",
           |"snapshot-id":$refSnap}],
           |"updates":[
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":$target,"type":"branch"}$extra]}"""
          .stripMargin.replaceAll("\n", "")
      }
      val g = graft.versioned.GraftRepo.open(root)
      val snapsBefore = g.io.list(root.resolve("snapshots")).size
      val (c, e) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/r",
        rollbackBody(meta2, s1), srv)
      withClue(e.toString) { c shouldBe 200 }
      sql("SELECT id, v FROM g.rback.main.db.r ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (2, "b"))
      // ZERO-COPY: the pointer swapped to the existing content-addressed
      // snapshot object — no new snapshot was written
      g.io.list(root.resolve("snapshots")).size shouldBe snapsBefore
      // the served metadata follows the rollback
      load().get("current-snapshot-id").asLong() shouldBe s1

      // an unknown snapshot id refuses 400
      val meta3 = load()
      val (cU, eU) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/r",
        rollbackBody(meta3, 123456789L), srv)
      cU shouldBe 400
      eU.get("error").get("message").asText() should include ("roll back")

      // rollback + property updates in one commit refuses 400
      val s2again = meta3.get("snapshots").elements().asScala
        .map(_.get("snapshot-id").asLong()).toSeq.filterNot(_ == s1).head
      val (cP, eP) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/r",
        rollbackBody(meta3, s2again,
          """,{"action":"set-properties","updates":{"o":"x"}}"""), srv)
      cP shouldBe 400
      eP.get("error").get("message").asText() should include ("own commit")

      // an engine's expire_snapshots (remove-snapshots) lands as a
      // validated no-op: graft's versioned history is governed by its
      // own expire/vacuum, and failing the maintenance job would be
      // worse than keeping the history the catalog owns anyway
      val metaE = load()
      val (cE, eE) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/r",
        s"""{"requirements":[
           |{"type":"assert-table-uuid",
           |"uuid":"${metaE.get("table-uuid").asText()}"}],
           |"updates":[{"action":"remove-snapshots",
           |"snapshot-ids":[123456]}]}""".stripMargin
          .replaceAll("\n", ""), srv)
      withClue(eE.toString) { cE shouldBe 200 }
      load().get("current-snapshot-id").asLong() shouldBe s1

      // a set-snapshot-ref riding an ADD-SNAPSHOT must name the added
      // snapshot: a mismatched target would land the posted snapshot
      // while the engine believes the ref moved elsewhere → 400
      val metaM = load()
      val stageM = java.nio.file.Paths.get(URI.create(
        metaM.get("properties").get("write.data.path").asText() + "/"))
      val fM = stageM.resolve("rback-mismatch.parquet")
      writeOneParquet(Seq((9, "z")).toDF("id", "v"), fM)
      val baseM = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(
          get(s"/v1/namespaces/${enc("main", "db")}/tables/r", srv)
            ._2.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val listM = stageWriterCommit(scratchRb, 9301L, baseM :+ fM)
      val bodyM = commitBody(metaM, 9301L, listM)
        .replace("\"snapshot-id\":9301,\"type\":\"branch\"",
          "\"snapshot-id\":987654,\"type\":\"branch\"")
      val (cM, eM) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/r", bodyM, srv)
      cM shouldBe 400
      eM.get("error").get("message").asText() should include ("consistent")

      // rollback across a SCHEMA CHANGE (r15): Iceberg's rollback moves
      // only the ref — schema stays CURRENT — so the server lowers the
      // remembered pre-evolution id onto a FILE-SET REVERT commit: the
      // target's files under the head's (wider) schema. Rows revert,
      // the schema does not.
      sql("ALTER TABLE g.rback.main.db.r ADD COLUMN flag BIGINT")
      sql("INSERT INTO g.rback.main.db.r VALUES (4, 'd', 9)")
      val metaA = load()
      metaA.get("current-snapshot-id").asLong() should not be s1
      val (cA, eA) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/r",
        rollbackBody(metaA, s1), srv)
      withClue(eA.toString) { cA shouldBe 200 }
      sql("SELECT id, v, flag FROM g.rback.main.db.r ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1), r.isNullAt(2)))
        .toSeq shouldBe Seq((1, "a", true), (2, "b", true))
      // the reverted state serves under a FRESH snapshot id (a new
      // graft snapshot carries it — the documented divergence from
      // Iceberg, which re-serves the remembered id); re-posting the
      // same rollback hits the already-reverted guard: a validated
      // no-op, no new snapshot object
      val metaA2 = load()
      val sReverted = metaA2.get("current-snapshot-id").asLong()
      sReverted should not be s1
      val snapsAfterRevert = g.io.list(root.resolve("snapshots")).size
      val (cA2, eA2) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/r",
        rollbackBody(metaA2, s1), srv)
      withClue(eA2.toString) { cA2 shouldBe 200 }
      g.io.list(root.resolve("snapshots")).size shouldBe snapsAfterRevert
      load().get("current-snapshot-id").asLong() shouldBe sReverted
    } finally srv.close()
  }

  test("ROLLBACK preserves CURRENT metadata across the revert (r15): " +
    "a target from before a table-property change is a validated " +
    "no-op when the file set matches; a target from before a " +
    "partition-spec change lands as a file-set revert keeping the " +
    "evolved spec; MoR tombstone state (graft.mor.*) reverts with the " +
    "files — and the sid→gid inversion is MEMOIZED, so a rollback " +
    "after N new commits walks only those N, never the whole " +
    "first-parent history again") {
    sql("CREATE NAMESPACE g.rbg")
    sql("CREATE NAMESPACE g.rbg.main.db")
    sql("CREATE TABLE g.rbg.main.db.r (id INT, cat STRING)")
    sql("INSERT INTO g.rbg.main.db.r VALUES (1,'a'), (2,'b')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rbg")
    val exports = Files.createTempDirectory("graft-rbg-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), maxSnapshots = 5, writable = true)
    try {
      def load() = get(s"/v1/namespaces/${enc("main", "db")}/tables/r",
        srv)._2.get("metadata")
      def rollbackBody(meta: JsonNode, target: Long) = {
        val refSnap = meta.get("refs").get("main").get("snapshot-id").asLong()
        s"""{"requirements":[
           |{"type":"assert-table-uuid",
           |"uuid":"${meta.get("table-uuid").asText()}"},
           |{"type":"assert-ref-snapshot-id","ref":"main",
           |"snapshot-id":$refSnap}],
           |"updates":[
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":$target,"type":"branch"}]}"""
          .stripMargin.replaceAll("\n", "")
      }
      def post(body: String) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/r", body, srv)

      // ---- a TABLE-PROPERTY change (r15): the target's FILE SET is
      // the head's (the ALTER was metadata-only), and Iceberg rollback
      // keeps properties current — a validated NO-OP: 200, nothing
      // committed, the property stays
      val g = graft.versioned.GraftRepo.open(root)
      val sBeforeProps = load().get("current-snapshot-id").asLong()
      sql("ALTER TABLE g.rbg.main.db.r SET TBLPROPERTIES('team'='data')")
      val headBeforeNoop = g.headCommit("main").id
      val (cP, eP) = post(rollbackBody(load(), sBeforeProps))
      withClue(eP.toString) { cP shouldBe 200 }
      g.headCommit("main").id shouldBe headBeforeNoop
      load().get("properties").get("team").asText() shouldBe "data"

      // ---- MoR tombstone state is EXEMPT: rolling back across a
      // merge-on-read DELETE is the rollback's whole point — only
      // graft.mor.* differs between target and head, and that reverts
      sql("ALTER TABLE g.rbg.main.db.r " +
        "SET TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
      val sBeforeDelete = load().get("current-snapshot-id").asLong()
      sql("DELETE FROM g.rbg.main.db.r WHERE id = 2")
      sql("SELECT count(*) FROM g.rbg.main.db.r")
        .collect().head.getLong(0) shouldBe 1L
      val (cT, eT) = post(rollbackBody(load(), sBeforeDelete))
      withClue(eT.toString) { cT shouldBe 200 }
      sql("SELECT count(*) FROM g.rbg.main.db.r")
        .collect().head.getLong(0) shouldBe 2L

      // ---- a PARTITION-SPEC change (r15): rollback across it LOWERS
      // onto a file-set revert — rows revert, the spec stays current
      val sBeforeSpec = load().get("current-snapshot-id").asLong()
      val metaS = load()
      val catId = {
        val it = metaS.get("schemas").elements().next()
          .get("fields").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .find(_.get("name").asText() == "cat").get.get("id").asInt()
      }
      val (cSpec, eSpec) = post(s"""{"requirements":[
         |{"type":"assert-table-uuid",
         |"uuid":"${metaS.get("table-uuid").asText()}"}],
         |"updates":[
         |{"action":"add-partition-spec","spec":{"spec-id":1,
         |"fields":[{"source-id":$catId,"name":"cat",
         |"transform":"identity","field-id":1000}]}},
         |{"action":"set-default-spec","spec-id":-1}]}""".stripMargin
        .replaceAll("\n", ""))
      withClue(eSpec.toString) { cSpec shouldBe 200 }
      // a post-spec-change append gives the revert real work: rolling
      // back must drop the new file while KEEPING the evolved spec
      sql("INSERT INTO g.rbg.main.db.r VALUES (50, 'p')")
      sql("SELECT count(*) FROM g.rbg.main.db.r WHERE id = 50")
        .collect().head.getLong(0) shouldBe 1L
      val (cS2, eS2) = post(rollbackBody(load(), sBeforeSpec))
      withClue(eS2.toString) { cS2 shouldBe 200 }
      sql("SELECT count(*) FROM g.rbg.main.db.r WHERE id = 50")
        .collect().head.getLong(0) shouldBe 0L
      val snapAfterSpecRb = g.snapshot(g.resolve("main").tables("db/r"))
      snapAfterSpecRb.partitionFields shouldBe
        Seq(graft.versioned.PartitionField("cat", "identity", "cat"))
      // and the user property survived both reverts
      snapAfterSpecRb.properties.get("team") shouldBe Some("data")

      // ---- LAZY + MEMOIZED inversion: deepen the history by 30
      // commits, then roll back to a RECENT served prior — the walk
      // STOPS at the target (frontier recorded for deeper targets), so
      // even the FIRST rollback never pays the 30-commit delta; the
      // second rollback reuses the index. O(distance to target)
      // commit loads, never O(history).
      (1 to 30).foreach(i =>
        sql(s"INSERT INTO g.rbg.main.db.r VALUES (${100 + i}, 'z')"))
      import scala.jdk.CollectionConverters._
      val metaH = load()
      val servedIds = metaH.get("snapshots").elements().asScala
        .map(_.get("snapshot-id").asLong()).toSeq
      val cur = metaH.get("current-snapshot-id").asLong()
      val priors = servedIds.filterNot(_ == cur)
      priors.size should be >= 2
      val before1 = graft.versioned.GraftRepo.commitReadCount
      val (c1, e1) = post(rollbackBody(metaH, priors.head))
      withClue(e1.toString) { c1 shouldBe 200 }
      val loads1 = graft.versioned.GraftRepo.commitReadCount - before1
      val metaH2 = load()
      val target2 = priors.find(id =>
        id != metaH2.get("current-snapshot-id").asLong()).get
      val before2 = graft.versioned.GraftRepo.commitReadCount
      val (c2, e2) = post(rollbackBody(metaH2, target2))
      withClue(e2.toString) { c2 shouldBe 200 }
      val loads2 = graft.versioned.GraftRepo.commitReadCount - before2
      // both rollbacks target snapshots a handful of commits deep: the
      // lazy walk stops there, so neither pays the 30-insert delta —
      // a full-history walk would load 30+ commits on top of the
      // serve/commit overhead (~12-16 loads) both rollbacks share
      withClue(s"loads1=$loads1 loads2=$loads2") {
        loads1 should be <= 20L
        loads2 should be <= 20L
      }
    } finally srv.close()
  }

  test("ROLLBACK file-set revert on a SEGMENTED table reuses the " +
    "target's manifest chunks verbatim: ZERO new manifest objects — " +
    "O(chunks) metadata on a million-file table, never a per-file " +
    "rewrite") {
    val saved = Option(System.getProperty("graft.manifest.inline.max"))
    System.setProperty("graft.manifest.inline.max", "4")
    try {
      sql("CREATE NAMESPACE g.rbseg")
      sql("CREATE NAMESPACE g.rbseg.main.db")
      sql("CREATE TABLE g.rbseg.main.db.t (id INT, v STRING)")
      // 6 separate inserts → 6 files > inlineMax=4 → segmented target
      (1 to 6).foreach(i =>
        sql(s"INSERT INTO g.rbseg.main.db.t VALUES ($i, 'v$i')"))
      val root = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.catalog.g.root"), "rbseg")
      val exports = Files.createTempDirectory("graft-rbseg-exports")
      val srv = IcebergRestServer.start(GraftRepo.open(root),
        exports, Some(spark), maxSnapshots = 8, writable = true)
      try {
        val g = graft.versioned.GraftRepo.open(root)
        def load() = get(s"/v1/namespaces/${enc("main", "db")}/tables/t",
          srv)._2.get("metadata")
        val targetGid = g.resolve("main").tables("db/t")
        g.snapshot(targetGid).manifestRefs should not be empty
        val s1 = load().get("current-snapshot-id").asLong()
        // metadata change + a file delta: the revert has real work AND
        // must cross the evolution (the lowered path, not the swap)
        sql("ALTER TABLE g.rbseg.main.db.t ADD COLUMN flag INT")
        sql("INSERT INTO g.rbseg.main.db.t VALUES (100, 'x', 1)")
        def manifestObjects(): Seq[String] = {
          val dir = root.resolve("snapshots").resolve("manifests")
          g.io.list(dir).map(_.getFileName.toString).sorted
        }
        val objsBefore = manifestObjects()
        val meta = load()
        val refSnap = meta.get("refs").get("main").get("snapshot-id").asLong()
        val (c, e) = send("POST",
          s"/v1/namespaces/${enc("main", "db")}/tables/t",
          s"""{"requirements":[
             |{"type":"assert-ref-snapshot-id","ref":"main",
             |"snapshot-id":$refSnap}],
             |"updates":[
             |{"action":"set-snapshot-ref","ref-name":"main",
             |"snapshot-id":$s1,"type":"branch"}]}""".stripMargin
            .replaceAll("\n", ""), srv)
        withClue(e.toString) { c shouldBe 200 }
        // the revert registered the TARGET's chunk refs verbatim —
        // nothing re-serialized, nothing new on disk
        manifestObjects() shouldBe objsBefore
        val reverted = g.snapshot(g.resolve("main").tables("db/t"))
        reverted.manifestRefs.map(_.path) shouldBe
          g.snapshot(targetGid).manifestRefs.map(_.path)
        // rows reverted; the schema stayed wide (flag reads NULL)
        sql("SELECT id, flag FROM g.rbseg.main.db.t ORDER BY id")
          .collect().map(r => (r.getInt(0), r.isNullAt(1))).toSeq shouldBe
          (1 to 6).map(i => (i, true))
      } finally srv.close()
    } finally saved.fold(
      System.clearProperty("graft.manifest.inline.max"): Unit)(v =>
      System.setProperty("graft.manifest.inline.max", v): Unit)
  }

  test("FUZZ: malformed bodies on every write route answer 4xx, never " +
    "a 500 — a confused engine gets a ValidationException it can log, " +
    "not commit-state-unknown") {
    sql("CREATE NAMESPACE g.fuzz")
    sql("CREATE NAMESPACE g.fuzz.main.db")
    sql("CREATE TABLE g.fuzz.main.db.t (id INT)")
    sql("INSERT INTO g.fuzz.main.db.t VALUES (1)")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "fuzz")
    val exports = Files.createTempDirectory("graft-fuzz-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    try {
      val ns = enc("main", "db")
      val routes = Seq(
        "/v1/namespaces",
        s"/v1/namespaces/$ns/tables",
        s"/v1/namespaces/$ns/tables/t",
        s"/v1/namespaces/$ns/register",
        s"/v1/namespaces/$ns/views",
        s"/v1/namespaces/$ns/views/t",
        s"/v1/namespaces/$ns/properties",
        s"/v1/namespaces/$ns/tables/t/metrics",
        "/v1/transactions/commit")
      val bodies = Seq(
        "{}", """{"x":1}""", "[1,2]", "\"str\"", "null", "",
        """{"nam""", // truncated JSON
        """{"name":123}""",
        """{"name":{"a":1}}""",
        """{"namespace":"notanarray"}""",
        """{"updates":"nope"}""",
        """{"requirements":[{}],"updates":[]}""",
        """{"requirements":[{"type":"assert-table-uuid"}],"updates":[]}""",
        """{"updates":[{}]}""",
        """{"updates":[{"action":"add-snapshot"}]}""",
        """{"updates":[{"action":"add-snapshot","snapshot":{}}]}""",
        """{"updates":[{"action":"add-snapshot","snapshot":{"manifest-list":"/nowhere/x.avro","snapshot-id":1}}]}""",
        """{"updates":[{"action":"add-schema"}]}""",
        """{"updates":[{"action":"add-schema","schema":{"type":"struct","fields":[{}]}}]}""",
        """{"updates":[{"action":"add-partition-spec","spec":{"fields":[{}]}}]}""",
        """{"updates":[{"action":"set-properties"}]}""",
        """{"name":"v2","schema":{},"view-version":{}}""",
        """{"name":"v2","metadata-location":"/nowhere/meta.json"}""",
        """{"removals":"x","updates":[]}""",
        """{"table-changes":[]}""",
        """{"table-changes":"nope"}""",
        """{"table-changes":[{}]}""",
        """{"table-changes":[{"identifier":{}}]}""",
        """{"table-changes":[{"identifier":{"namespace":["main","db"],"name":"t"},"updates":[{"action":"add-snapshot","snapshot":{"snapshot-id":1,"manifest-list":"/nowhere/x.avro"}}]}]}""",
        """{"table-changes":[{"identifier":{"namespace":["main","db"],"name":"t"},"requirements":[{"type":"assert-ref-snapshot-id"}],"updates":[]}]}""")
      for (r <- routes; b <- bodies) {
        val (code, resp) = send("POST", r, b, srv)
        // some bodies are legal no-ops on some routes (an empty
        // properties update, the metrics sink) — the invariant under
        // fuzz is NO 500s, not "everything refuses"
        withClue(s"POST $r body=$b -> $code ${resp.toString.take(200)}: ") {
          code should be < 500
        }
      }
    } finally srv.close()
  }

  test("DIFFERENTIAL: randomized mixed-delete commits — the server's " +
    "dirty-file CoW lowering reproduces exactly what the independent " +
    "importer computes from the posted snapshot (8 seeded shapes: " +
    "positions into base and same-commit adds, equality deletes, " +
    "empty corners)") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.rdiff")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rdiff")
    val exports = Files.createTempDirectory("graft-rdiff-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-rdiff-scratch")
    try {
      sql("CREATE NAMESPACE g.rdiff.main.db")
      for (seed <- 1 to 8) {
        val rnd = new scala.util.Random(seed)
        val t = s"d$seed"
        sql(s"CREATE TABLE g.rdiff.main.db.$t (id INT, v STRING)")
        // 2 base commits of random rows
        val baseRows = (0 until 2).map { c =>
          (0 until 2 + rnd.nextInt(3)).map(i =>
            (c * 50 + i, s"b$c-$i"))
        }
        baseRows.foreach { rows =>
          sql(s"INSERT INTO g.rdiff.main.db.$t VALUES " +
            rows.map { case (i, s) => s"($i,'$s')" }.mkString(","))
        }
        val (_, load) = get(
          s"/v1/namespaces/${enc("main", "db")}/tables/$t", srv)
        val meta = load.get("metadata")
        val idFieldId = {
          val it = meta.get("schemas").elements().next()
            .get("fields").elements()
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
            .find(_.get("name").asText() == "id").get.get("id").asInt()
        }
        val stage = java.nio.file.Paths.get(URI.create(
          meta.get("properties").get("write.data.path").asText() + "/"))
        val metaLoc = java.nio.file.Paths.get(
          load.get("metadata-location").asText())
        val basePlan = graft.versioned.IcebergImport.plan(metaLoc)
        val baseFiles = basePlan.dataPaths.map(java.nio.file.Paths.get(_))
        // random adds (0..2 files)
        val adds = (0 until rnd.nextInt(3)).map { a =>
          val p = stage.resolve(s"$t-add$a.parquet")
          val rows = (0 until 1 + rnd.nextInt(3)).map(i =>
            (1000 + a * 10 + i, s"a$a-$i"))
          writeOneParquet(rows.toDF("id", "v"), p)
          p
        }
        // random positional deletes over base files AND adds
        def positionsOf(p: java.nio.file.Path): Seq[Long] =
          spark.read.parquet(p.toString)
            .select(org.apache.spark.sql.functions.col("_metadata.row_index"))
            .collect().map(_.getLong(0)).toSeq
        val posRows: Seq[(String, Long)] =
          (baseFiles ++ adds).flatMap { p =>
            positionsOf(p).filter(_ => rnd.nextDouble() < 0.35)
              .map(pos => (p.toUri.toString, pos))
          }
        val posFiles =
          if (posRows.isEmpty) Nil
          else {
            val p = stage.resolve(s"$t-pos.parquet")
            writeOneParquet(posRows.toDF("file_path", "pos"), p)
            Seq(p)
          }
        // random equality delete over ids (sometimes empty)
        val eqIds = (0 until 60).filter(_ => rnd.nextDouble() < 0.06)
        val eqFiles =
          if (eqIds.isEmpty) Nil
          else {
            val p = stage.resolve(s"$t-eq.parquet")
            writeOneParquet(eqIds.toDF("id"), p)
            Seq(p)
          }
        if (posFiles.isEmpty && eqFiles.isEmpty) {
          // nothing to post this seed — still a valid corner elsewhere
          sql(s"DROP TABLE g.rdiff.main.db.$t")
        } else {
          // EXPECTED: the independent importer applied to the POSTED
          // snapshot (base at served seqs, adds+deletes at the commit's
          // next seq — the engine's actual sequence assignment)
          val nextSeq = basePlan.dataFiles.map(_.seq).max + 1
          val postedPlan = basePlan.copy(
            dataFiles = basePlan.dataFiles ++ adds.map(p =>
              graft.versioned.IcebergImport.DataFile(
                p.toString, nextSeq)),
            deleteFiles =
              posFiles.map(p => graft.versioned.IcebergImport.DeleteFile(
                p.toString, 1, nextSeq, Nil)) ++
              eqFiles.map(p => graft.versioned.IcebergImport.DeleteFile(
                p.toString, 2, nextSeq, Seq(idFieldId))))
          val expected = graft.versioned.IcebergImport
            .readPlan(spark, postedPlan)
            .collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sorted
          // ACTUAL: post the commit, read the graft table natively
          val list = stageMixedDeleteCommit(scratch, 8000L + seed,
            baseFiles ++ adds,
            posFiles.map(p => (p, 1, None)) ++
              eqFiles.map(p => (p, 2, Some(Seq(idFieldId)))))
          val body = commitBody(meta, 8000L + seed, list)
            .replace("\"operation\":\"append\"", "\"operation\":\"overwrite\"")
          val (cc, ee) = send("POST",
            s"/v1/namespaces/${enc("main", "db")}/tables/$t", body, srv)
          withClue(s"seed=$seed ${ee.toString}") { cc shouldBe 200 }
          val actual = sql(s"SELECT id, v FROM g.rdiff.main.db.$t")
            .collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sorted
          withClue(s"seed=$seed pos=${posRows.size} eq=${eqIds.size} " +
            s"adds=${adds.size}: ") { actual shouldBe expected }
        }
      }
    } finally srv.close()
  }

  test("maxSnapshots > 1 serves history over REST: an external engine " +
    "time-travels by snapshot-id through the served metadata") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.rtt")
    sql("CREATE NAMESPACE g.rtt.main.db")
    sql("CREATE TABLE g.rtt.main.db.t (id INT)")
    sql("INSERT INTO g.rtt.main.db.t VALUES (1), (2)")
    sql("INSERT INTO g.rtt.main.db.t VALUES (3)")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rtt")
    val exports = Files.createTempDirectory("graft-rtt-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root), exports,
      Some(spark), maxSnapshots = 3)
    try {
      val (c, load) = get(s"/v1/namespaces/${enc("main", "db")}/tables/t", srv)
      c shouldBe 200
      val meta = load.get("metadata")
      import scala.jdk.CollectionConverters._
      // CREATE + 2 INSERTs = 3 served snapshots (empty, [1,2], [1,2,3])
      val snaps = meta.get("snapshots").elements().asScala.toSeq
      snaps.size shouldBe 3
      val metaLoc = load.get("metadata-location").asText()
      // the independent external reader time-travels via snapshot-id:
      // each served snapshot reproduces exactly its historical rows
      val histories = snaps.map(_.get("snapshot-id").asLong()).map { sid =>
        graft.versioned.IcebergImport.read(spark, metaLoc, Some(sid))
          .collect().map(_.getInt(0)).sorted.toSeq
      }.toSet
      histories shouldBe Set(Seq(), Seq(1, 2), Seq(1, 2, 3))
      val curId = meta.get("current-snapshot-id").asLong()
      graft.versioned.IcebergImport.read(spark, metaLoc, Some(curId))
        .collect().map(_.getInt(0)).sorted.toSeq shouldBe Seq(1, 2, 3)
    } finally srv.close()
  }

  test("graft tags export as READ-ONLY Iceberg tag refs: a tag on an " +
    "exported version maps to that snapshot-id in the served refs map " +
    "(engines VERSION AS OF by name), and a tag outside the served " +
    "window is not stamped") {
    sql("CREATE NAMESPACE g.rtag")
    sql("CREATE NAMESPACE g.rtag.main.db")
    sql("CREATE TABLE g.rtag.main.db.t (id INT)")
    sql("INSERT INTO g.rtag.main.db.t VALUES (1), (2)")
    sql("CALL g.system.create_tag('rtag', 'v_first', 'main')")
    sql("INSERT INTO g.rtag.main.db.t VALUES (3)")
    sql("CALL g.system.create_tag('rtag', 'v_head', 'main')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rtag")
    val exports = Files.createTempDirectory("graft-rtag-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root), exports,
      Some(spark), maxSnapshots = 3)
    try {
      val (c, load) = get(s"/v1/namespaces/${enc("main", "db")}/tables/t", srv)
      c shouldBe 200
      val refs = load.get("metadata").get("refs")
      refs.get("main").get("type").asText() shouldBe "branch"
      val mainSid = refs.get("main").get("snapshot-id").asLong()
      // head tag rides the current snapshot
      refs.get("v_head").get("type").asText() shouldBe "tag"
      refs.get("v_head").get("snapshot-id").asLong() shouldBe mainSid
      // the OLDER tag maps to ITS version's snapshot, and the
      // independent reader recovers exactly the tagged rows from it
      refs.get("v_first").get("type").asText() shouldBe "tag"
      val firstSid = refs.get("v_first").get("snapshot-id").asLong()
      firstSid should not be mainSid
      val metaLoc = load.get("metadata-location").asText()
      graft.versioned.IcebergImport.read(spark, metaLoc, Some(firstSid))
        .collect().map(_.getInt(0)).sorted.toSeq shouldBe Seq(1, 2)
      // a tag created AFTER the export invalidates the serve memo even
      // though the data snapshot is unchanged: the next load re-exports
      // and serves the new ref (no waiting for a data commit)
      sql("CALL g.system.create_tag('rtag', 'v_late', 'main')")
      val (c2, load2) = get(s"/v1/namespaces/${enc("main", "db")}/tables/t",
        srv)
      c2 shouldBe 200
      val refs2 = load2.get("metadata").get("refs")
      refs2.has("v_late") shouldBe true
      refs2.get("v_late").get("snapshot-id").asLong() shouldBe mainSid
      // and an unchanged tag set re-serves MEMOIZED (no new version)
      get(s"/v1/namespaces/${enc("main", "db")}/tables/t", srv)._2
        .get("metadata-location").asText() shouldBe
        load2.get("metadata-location").asText()
    } finally srv.close()
    // a head-only server (maxSnapshots = 1) serves the head tag but
    // must NOT stamp the out-of-window one (its snapshot isn't served)
    val srv1 = IcebergRestServer.start(GraftRepo.open(root),
      Files.createTempDirectory("graft-rtag1-exports"), Some(spark))
    try {
      val (c1, load1) = get(s"/v1/namespaces/${enc("main", "db")}/tables/t",
        srv1)
      c1 shouldBe 200
      val refs1 = load1.get("metadata").get("refs")
      refs1.has("v_head") shouldBe true
      refs1.has("v_first") shouldBe false
    } finally srv1.close()
  }

  test("list routes paginate with the spec's opaque token: pageSize " +
    "bounds each response, next-page-token walks the full listing " +
    "exactly once, and requests without pageSize get everything") {
    sql("CREATE NAMESPACE g.pgn")
    sql("CREATE NAMESPACE g.pgn.main.db")
    (1 to 7).foreach(i =>
      sql(s"CREATE TABLE g.pgn.main.db.t$i (id INT)"))
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "pgn")
    val exports = Files.createTempDirectory("graft-pgn-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root), exports)
    try {
      def names(node: JsonNode): Seq[String] = {
        import scala.jdk.CollectionConverters._
        node.get("identifiers").elements().asScala
          .map(_.get("name").asText()).toSeq
      }
      // no pageSize: the whole listing, no token
      val (c0, all) = (get(s"/v1/namespaces/${enc("main", "db")}/tables", srv))
      c0 shouldBe 200
      names(all) should have size 7
      all.has("next-page-token") shouldBe false
      // paged walk: 3 + 3 + 1, tokens chain, no repeats, no gaps
      var token = ""
      var seen = Seq.empty[String]
      var pages = 0
      var done = false
      while (!done) {
        val q = s"pageSize=3" +
          (if (token.nonEmpty) s"&pageToken=$token" else "")
        val (c, page) = get(
          s"/v1/namespaces/${enc("main", "db")}/tables?$q", srv)
        c shouldBe 200
        val ns2 = names(page)
        ns2.size should be <= 3
        seen ++= ns2
        pages += 1
        if (page.has("next-page-token"))
          token = page.get("next-page-token").asText()
        else done = true
      }
      pages shouldBe 3
      seen shouldBe names(all) // exactly once, in order
      // namespaces route paginates with the same token shape
      val (cN, nsPage) = get("/v1/namespaces?pageSize=1", srv)
      cN shouldBe 200
      nsPage.get("namespaces").size() shouldBe 1
      // namespaceExists (HEAD): 204 present, 404 absent — the probe
      // PyIceberg/iceberg-java run before create/use
      def head(path: String): Int = http.send(
        HttpRequest.newBuilder(URI.create(s"${srv.uri}$path"))
          .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      head(s"/v1/namespaces/${enc("main", "db")}") shouldBe 204
      head("/v1/namespaces/main") shouldBe 204
      head(s"/v1/namespaces/${enc("main", "ghost")}") shouldBe 404
      head("/v1/namespaces/nobranch") shouldBe 404
    } finally srv.close()
  }

  test("register-table ZERO-COPY fast path: a same-data-plane export " +
    "(no delete files) registers its files in place — no Spark job, " +
    "shared rels; a MoR export (delete files) still copies") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.regzc")
    sql("CREATE NAMESPACE g.regzc.main.db")
    sql("CREATE TABLE g.regzc.main.db.src (id INT, v STRING)")
    sql("INSERT INTO g.regzc.main.db.src VALUES (1,'a'), (2,'b'), (3,'c')")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "regzc")
    val g = GraftRepo.open(root)
    val metaP = graft.versioned.IcebergExport.export(g, "main", "db/src",
      Files.createTempDirectory("graft-regzc-export"), Some(spark), 1, 1, 0)
    val exports = Files.createTempDirectory("graft-regzc-exports")
    val srv = IcebergRestServer.start(g, exports, Some(spark),
      writable = true)
    try {
      // count Spark jobs across the register call: zero-copy must not
      // launch any (footer stats are IO-pool reads, not Spark tasks)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      val (c1, r1) = try {
        val r = send("POST", s"/v1/namespaces/${enc("main", "db")}/register",
          s"""{"name":"adopted","metadata-location":"$metaP"}""", srv)
        // listener events are async — give the bus a beat to drain
        Thread.sleep(500)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
      withClue(r1.toString) { c1 shouldBe 200 }
      jobs.get() shouldBe 0
      // the adopted table shares the SOURCE's exact file rels (in-place
      // registration, not a copy)
      val srcRels = g.snapshot(g.resolve("main").tables("db/src"))
        .files.map(_.path).toSet
      val adoptedRels = g.snapshot(g.resolve("main").tables("db/adopted"))
        .files.map(_.path).toSet
      adoptedRels shouldBe srcRels
      sql("SELECT id, v FROM g.regzc.main.db.adopted ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (2, "b"), (3, "c"))
      // footer stats registered (pruning works from day one)
      g.snapshot(g.resolve("main").tables("db/adopted"))
        .files.foreach(f => f.min should not be empty)

      // a MoR source (export carries delete files) must NOT zero-copy:
      // the live rows differ from the raw files
      sql("CREATE TABLE g.regzc.main.db.srcm (id INT, v STRING)")
      sql("INSERT INTO g.regzc.main.db.srcm VALUES (1,'a'), (2,'b')")
      sql("ALTER TABLE g.regzc.main.db.srcm " +
        "SET TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
      sql("DELETE FROM g.regzc.main.db.srcm WHERE id = 2")
      val metaM = graft.versioned.IcebergExport.export(g, "main", "db/srcm",
        Files.createTempDirectory("graft-regzc-exportm"), Some(spark), 1, 1, 0)
      val (c2, r2) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/register",
        s"""{"name":"adoptedm","metadata-location":"$metaM"}""", srv)
      withClue(r2.toString) { c2 shouldBe 200 }
      sql("SELECT id, v FROM g.regzc.main.db.adoptedm ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"))
      val srcmRels = g.snapshot(g.resolve("main").tables("db/srcm"))
        .files.map(_.path).toSet
      val admRels = g.snapshot(g.resolve("main").tables("db/adoptedm"))
        .files.map(_.path).toSet
      admRels.intersect(srcmRels) shouldBe empty // copied, not shared

      // purge-safety for the zero-copy adoption: dropping the SOURCE
      // with purge must not delete the files the adopted table shares
      val (cD, _) = send("DELETE",
        s"/v1/namespaces/${enc("main", "db")}/tables/src?purgeRequested=true",
        "", srv)
      cD should (be (204) or be (200))
      sql("SELECT id, v FROM g.regzc.main.db.adopted ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (2, "b"), (3, "c"))
    } finally srv.close()
  }

  test("equality delete AFTER a rename targets the renamed column " +
    "correctly: the tombstone lands on the PHYSICAL name, so old files " +
    "still filter") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restmr")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restmr")
    val exports = Files.createTempDirectory("graft-restmr-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-mr-scratch")
    try {
      sql("CREATE NAMESPACE g.restmr.main.db")
      sql("CREATE TABLE g.restmr.main.db.m (id INT, v STRING)")
      sql("INSERT INTO g.restmr.main.db.m VALUES (1,'a'), (2,'b'), (3,'c')")
      // rename id -> key over REST (same field id)
      val meta0 = get(s"/v1/namespaces/${enc("main", "db")}/tables/m", srv)
        ._2.get("metadata")
      val s1 = meta0.get("schemas").elements().next()
        .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      s1.put("schema-id", 1)
      val fit = s1.withArray("fields").elements()
      while (fit.hasNext) {
        val f = fit.next()
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        if (f.get("name").asText() == "id") f.put("name", "key")
      }
      send("POST", s"/v1/namespaces/${enc("main", "db")}/tables/m",
        s"""{"requirements":[{"type":"assert-table-uuid",
           |"uuid":"${meta0.get("table-uuid").asText()}"}],
           |"updates":[
           |{"action":"add-schema","schema":${mapper.writeValueAsString(s1)}},
           |{"action":"set-current-schema","schema-id":-1}]}"""
          .stripMargin.replaceAll("\n", ""), srv)._1 shouldBe 200

      // the export serves PHYSICAL column names by design (renames are
      // metadata-only; files hold `id` bytes), so the ENGINE still sees
      // `id` after the rename and writes its delete file under that
      // name — while the native reader sees `key`. Same field id both
      // sides; the tombstone must land on the physical name.
      val (_, load2) = get(s"/v1/namespaces/${enc("main", "db")}/tables/m", srv)
      val meta2 = load2.get("metadata")
      val servedField = meta2.get("schemas").elements().next()
        .get("fields").elements().next()
      servedField.get("name").asText() shouldBe "id" // physical serving
      val keyFieldId = servedField.get("id").asInt()
      val stage = java.nio.file.Paths.get(URI.create(
        meta2.get("properties").get("write.data.path").asText() + "/"))
      val del = stage.resolve("eq-del-renamed.parquet")
      writeOneParquet(Seq(2).toDF("id"), del)
      val base2 = graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(load2.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
      val list = stageEqDeleteCommit(scratch, 7601L, base2, del,
        Seq(keyFieldId))
      val bodyD = commitBody(meta2, 7601L, list)
        .replace("\"operation\":\"append\"", "\"operation\":\"delete\"")
      val (cD, eD) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/m", bodyD, srv)
      withClue(eD.toString) { cD shouldBe 200 }
      sql("SELECT key, v FROM g.restmr.main.db.m ORDER BY key")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
        Seq((1, "a"), (3, "c"))
    } finally srv.close()
  }

  test("staged CREATE with a partition spec registers declared tuples; " +
    "set-default-spec without add-partition-spec refuses") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.restsp")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restsp")
    val exports = Files.createTempDirectory("graft-restsp-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    val scratch = Files.createTempDirectory("rest-sp-scratch")
    try {
      sql("CREATE NAMESPACE g.restsp.main.db")
      sql("CREATE TABLE g.restsp.main.db.pp2 (id INT)")
      val meta = get(s"/v1/namespaces/${enc("main", "db")}/tables/pp2", srv)
        ._2.get("metadata")
      // orphan set-default-spec: graft keeps ONE spec — refuse, never
      // silently ignore a spec flip the engine believes happened
      val (cO, eO) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/pp2",
        s"""{"requirements":[{"type":"assert-table-uuid",
           |"uuid":"${meta.get("table-uuid").asText()}"}],
           |"updates":[{"action":"set-default-spec","spec-id":0}]}"""
          .stripMargin.replaceAll("\n", ""), srv)
      cO shouldBe 400
      eO.get("error").get("message").asText() should include ("ONE current")

      // partitioned staged CTAS: the stage response echoes the spec,
      // the assert-create commit posts spec + declared tuples
      val (c0, staged) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables",
        """{"name":"pc","stage-create":true,"schema":{"type":"struct",
          |"schema-id":0,"fields":[
          |{"id":1,"name":"id","required":false,"type":"int"},
          |{"id":2,"name":"cat","required":false,"type":"string"}]},
          |"partition-spec":{"spec-id":0,"fields":[
          |{"source-id":2,"name":"cat","transform":"identity",
          |"field-id":1000}]}}""".stripMargin.replaceAll("\n", ""), srv)
      c0 shouldBe 200
      staged.get("metadata").get("partition-specs").elements().next()
        .get("fields").size() shouldBe 1
      // the engine's partitioned CTAS output, via a graft stage table
      // (real identity tuples in the exported manifests)
      sql("CREATE TABLE g.restsp.main.db.pc_stage (id INT, cat STRING) " +
        "PARTITIONED BY (cat)")
      sql("INSERT INTO g.restsp.main.db.pc_stage VALUES " +
        "(1,'a'), (2,'b'), (3,'a')")
      val metaP = graft.versioned.IcebergExport.export(
        GraftRepo.open(root), "main", "db/pc_stage",
        Files.createTempDirectory("graft-sp-export"), Some(spark), 1, 1, 0)
      val stageMeta = mapper.readTree(java.nio.file.Files.readString(metaP))
      val cur = stageMeta.get("current-snapshot-id").asLong()
      val listLoc = {
        val it = stageMeta.get("snapshots").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .find(_.get("snapshot-id").asLong() == cur).get
          .get("manifest-list").asText()
      }
      val commit =
        s"""{"requirements":[{"type":"assert-create"}],"updates":[
           |{"action":"add-schema","schema":${mapper.writeValueAsString(
               staged.get("metadata").get("schemas").elements().next())}},
           |{"action":"set-current-schema","schema-id":-1},
           |{"action":"add-partition-spec","spec":{"spec-id":0,"fields":[
           |{"source-id":2,"name":"cat","transform":"identity",
           |"field-id":1000}]}},
           |{"action":"set-default-spec","spec-id":-1},
           |{"action":"add-snapshot","snapshot":{"snapshot-id":7801,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"$listLoc",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":7801,"type":"branch"}]}""".stripMargin
          .replaceAll("\n", "")
      val (cC, eC) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/tables/pc", commit, srv)
      withClue(eC.toString) { cC shouldBe 200 }
      sql("SELECT id FROM g.restsp.main.db.pc WHERE cat = 'a' ORDER BY id")
        .collect().map(_.getInt(0)).toSeq shouldBe Seq(1, 3)
      // the declared tuples really landed in FileEntry.partitionValues
      val g = GraftRepo.open(root)
      val snap = g.snapshot(g.resolve("main").tables("db/pc"))
      snap.partitionFields.map(_.name) shouldBe Seq("cat")
      snap.files.flatMap(_.partValues.get("cat")).toSet shouldBe Set("a", "b")
    } finally srv.close()
  }

  test("namespace drop and property updates over REST: non-empty " +
    "(tables OR views) answers 409, empty drops commit, the " +
    "updated/removed/missing triple round-trips") {
    sql("CREATE NAMESPACE g.restnd")
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "restnd")
    val exports = Files.createTempDirectory("graft-restnd-exports")
    val srv = IcebergRestServer.start(GraftRepo.open(root),
      exports, Some(spark), writable = true)
    try {
      sql("CREATE NAMESPACE g.restnd.main.db")
      sql("CREATE TABLE g.restnd.main.db.t (id INT)")
      // non-empty db -> 409 NamespaceNotEmpty
      val (cN, eN) = send("DELETE",
        s"/v1/namespaces/${enc("main", "db")}", "", srv)
      cN shouldBe 409
      eN.get("error").get("type").asText() shouldBe "NamespaceNotEmptyException"
      // a db holding ONLY a view is still non-empty (ghost-view guard)
      sql("CREATE NAMESPACE g.restnd.main.vdb")
      locally {
        val vcat = graft.catalog.GraftViews.viewCatalog(spark, "g")
        val vident = org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("restnd", "main", "vdb"), "onlyview")
        val vsql = "SELECT 1 AS one"
        val inferred = org.apache.spark.sql.graftbridge.ViewContextBridge
          .sqlWith(spark, "g", vident.namespace(), vsql).schema
        vcat.createView(new org.apache.spark.sql.connector.catalog.ViewInfo(
          vident, vsql, "g", vident.namespace(), inferred,
          inferred.fieldNames, Array.empty, Array.empty,
          java.util.Map.of()))
      }
      send("DELETE", s"/v1/namespaces/${enc("main", "vdb")}", "", srv)
        ._1 shouldBe 409

      // property updates: set two, remove one + one missing
      send("POST", s"/v1/namespaces/${enc("main", "db")}/properties",
        """{"updates":{"owner":"a","note":"x"}}""", srv)._1 shouldBe 200
      val (cU, rU) = send("POST",
        s"/v1/namespaces/${enc("main", "db")}/properties",
        """{"removals":["note","ghost"],"updates":{"owner":"b"}}""", srv)
      cU shouldBe 200
      rU.get("removed").elements().next().asText() shouldBe "note"
      rU.get("missing").elements().next().asText() shouldBe "ghost"
      val (_, desc) = get(s"/v1/namespaces/${enc("main", "db")}", srv)
      desc.get("properties").get("owner").asText() shouldBe "b"
      desc.get("properties").has("note") shouldBe false
      // overlapping removal+update refuses (spec constraint)
      send("POST", s"/v1/namespaces/${enc("main", "db")}/properties",
        """{"removals":["owner"],"updates":{"owner":"c"}}""", srv)
        ._1 shouldBe 400

      // empty db drops with 204; unknown drops 404
      sql("CREATE NAMESPACE g.restnd.main.empty")
      send("DELETE", s"/v1/namespaces/${enc("main", "empty")}", "", srv)
        ._1 shouldBe 204
      get(s"/v1/namespaces/${enc("main", "empty")}", srv)._1 shouldBe 404
      send("DELETE", s"/v1/namespaces/${enc("main", "nosuch")}", "", srv)
        ._1 shouldBe 404
      // a branch with content refuses; an empty branch drops
      send("DELETE", s"/v1/namespaces/${enc("main")}", "", srv)
        ._1 shouldBe 409
      send("POST", "/v1/namespaces",
        """{"namespace":["scratchbr"],"properties":{"from":"main"}}""", srv)
        ._1 shouldBe 200
      // scratchbr was branched FROM main, so it carries main's tables
      send("DELETE", s"/v1/namespaces/${enc("scratchbr")}", "", srv)
        ._1 shouldBe 409
    } finally srv.close()
  }

  test("bearer auth (opt-in token): config stays open, every other " +
    "route 401s a missing/wrong token with a spec ErrorResponse, the " +
    "right token serves normally, and auth precedes the read-only check") {
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rest")
    def sendTo(srv: IcebergRestServer, method: String, path: String,
        tok: Option[String], body: String = ""): (Int, JsonNode) = {
      val b = HttpRequest.newBuilder(URI.create(s"${srv.uri}$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
      tok.foreach(t => b.header("Authorization", s"Bearer $t"))
      val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
      (r.statusCode(),
        if (r.body().nonEmpty) mapper.readTree(r.body())
        else mapper.createObjectNode())
    }
    val ro = IcebergRestServer.start(GraftRepo.open(root),
      Files.createTempDirectory("graft-rest-auth"), Some(spark),
      token = Some("s3cret"))
    try {
      // capability discovery needs no credentials
      sendTo(ro, "GET", "/v1/config", None)._1 shouldBe 200
      // everything else refuses missing AND wrong tokens, spec-shaped
      val (c1, e1) = sendTo(ro, "GET", "/v1/namespaces", None)
      c1 shouldBe 401
      e1.get("error").get("type").asText() shouldBe "NotAuthorizedException"
      e1.get("error").get("code").asInt() shouldBe 401
      sendTo(ro, "GET", "/v1/namespaces", Some("wrong"))._1 shouldBe 401
      sendTo(ro, "GET",
        s"/v1/namespaces/${enc("main", "db")}/tables/t", Some("s3cre"))
        ._1 shouldBe 401
      // the right token serves normally
      sendTo(ro, "GET", "/v1/namespaces", Some("s3cret"))._1 shouldBe 200
      sendTo(ro, "GET",
        s"/v1/namespaces/${enc("main", "db")}/tables/t", Some("s3cret"))
        ._1 shouldBe 200
      // auth runs BEFORE the read-only refusal: an unauthenticated
      // write is 401 (not 405), an authenticated one 405 (read-only)
      sendTo(ro, "POST", "/v1/namespaces",
        None, """{"namespace":["x"]}""")._1 shouldBe 401
      sendTo(ro, "POST", "/v1/namespaces",
        Some("s3cret"), """{"namespace":["x"]}""")._1 shouldBe 405
    } finally ro.close()
    // a WRITABLE authed server: the same write 401s without the token
    // and lands with it
    val rw = IcebergRestServer.start(GraftRepo.open(root),
      Files.createTempDirectory("graft-rest-auth-rw"), Some(spark),
      writable = true, token = Some("s3cret"))
    try {
      sendTo(rw, "POST", "/v1/namespaces",
        None, """{"namespace":["authbr"],"properties":{"from":"main"}}""")
        ._1 shouldBe 401
      sendTo(rw, "POST", "/v1/namespaces",
        Some("s3cret"),
        """{"namespace":["authbr"],"properties":{"from":"main"}}""")
        ._1 shouldBe 200
      sendTo(rw, "GET", s"/v1/namespaces/${enc("authbr")}", Some("s3cret"))
        ._1 shouldBe 200
    } finally rw.close()
  }

  test("OAuth2 client_credentials: POST /v1/oauth/tokens exchanges the " +
    "configured credential for a live bearer (the iceberg-core/" +
    "PyIceberg `credential` flow), wrong creds answer the OAuth error " +
    "shape, and an expired mint 401s like a wrong static token") {
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rest")
    def req(srv: IcebergRestServer, method: String, path: String,
        tok: Option[String], body: String = ""): (Int, JsonNode) = {
      val b = HttpRequest.newBuilder(URI.create(s"${srv.uri}$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
      tok.foreach(t => b.header("Authorization", s"Bearer $t"))
      val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
      (r.statusCode(),
        if (r.body().nonEmpty) mapper.readTree(r.body())
        else mapper.createObjectNode())
    }
    def mint(srv: IcebergRestServer, form: String): (Int, JsonNode) =
      req(srv, "POST", "/v1/oauth/tokens", None, form)

    val srv = IcebergRestServer.start(GraftRepo.open(root),
      Files.createTempDirectory("graft-rest-oauth"), Some(spark),
      credential = Some("bob:hunter2"))
    try {
      // a configured credential makes auth REQUIRED, like a static token
      req(srv, "GET", "/v1/config", None)._1 shouldBe 200
      req(srv, "GET", "/v1/namespaces", None)._1 shouldBe 401
      // the exchange itself needs no bearer — it IS the bootstrap
      val (cm, m) = mint(srv, "grant_type=client_credentials" +
        "&client_id=bob&client_secret=hunter2")
      cm shouldBe 200
      m.get("token_type").asText() shouldBe "bearer"
      m.get("expires_in").asLong() shouldBe 3600L
      val tok = m.get("access_token").asText()
      tok.length shouldBe 64 // 32 random bytes, hex
      // the minted bearer serves every route a static token would
      req(srv, "GET", "/v1/namespaces", Some(tok))._1 shouldBe 200
      req(srv, "GET",
        s"/v1/namespaces/${enc("main", "db")}/tables/t", Some(tok))
        ._1 shouldBe 200
      // wrong secret / unknown grant: RFC 6749 error shape, not the
      // catalog ErrorResponse
      val (cw, w) = mint(srv, "grant_type=client_credentials" +
        "&client_id=bob&client_secret=wrong")
      cw shouldBe 401
      w.get("error").asText() shouldBe "invalid_client"
      val (cg, g) = mint(srv, "grant_type=password" +
        "&client_id=bob&client_secret=hunter2")
      cg shouldBe 400
      g.get("error").asText() shouldBe "unsupported_grant_type"
      // a made-up bearer is refused
      req(srv, "GET", "/v1/namespaces", Some("f" * 64))._1 shouldBe 401
    } finally srv.close()

    // no credential configured → the endpoint refuses (a static-token
    // server has nothing to exchange); the static bearer still works
    val st = IcebergRestServer.start(GraftRepo.open(root),
      Files.createTempDirectory("graft-rest-oauth-st"), Some(spark),
      token = Some("s3cret"))
    try {
      val (c0, e0) = mint(st, "grant_type=client_credentials" +
        "&client_id=bob&client_secret=hunter2")
      c0 shouldBe 401
      e0.get("error").asText() shouldBe "invalid_client"
      req(st, "GET", "/v1/namespaces", Some("s3cret"))._1 shouldBe 200
    } finally st.close()

    // expiry: a 1-second TTL mint stops serving once elapsed — same
    // 401 as a wrong token, and the expires_in told the client when
    val sh = IcebergRestServer.start(GraftRepo.open(root),
      Files.createTempDirectory("graft-rest-oauth-ttl"), Some(spark),
      credential = Some("bob:hunter2"), oauthTtlSec = 1L)
    try {
      val (c1, m1) = mint(sh, "grant_type=client_credentials" +
        "&client_id=bob&client_secret=hunter2")
      c1 shouldBe 200
      m1.get("expires_in").asLong() shouldBe 1L
      val tok = m1.get("access_token").asText()
      req(sh, "GET", "/v1/namespaces", Some(tok))._1 shouldBe 200
      Thread.sleep(1100)
      req(sh, "GET", "/v1/namespaces", Some(tok))._1 shouldBe 401
    } finally sh.close()
  }

  /** Shared fixtures for the commit-pipeline specs below: a writable
    * server over repo `name` (created with `setup` SQL), and the posted
    * shapes an engine builds against a served table. */
  private final class Pipeline(name: String, maxSnapshots: Int = 1) {
    import spark.implicits._
    val root: java.nio.file.Path = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), name)
    val srv: IcebergRestServer = IcebergRestServer.start(GraftRepo.open(root),
      Files.createTempDirectory(s"graft-$name-exports"), Some(spark),
      maxSnapshots = maxSnapshots, writable = true)
    val scratch: java.nio.file.Path = Files.createTempDirectory(s"rest-$name")
    val ns: String = enc("main", "db")
    private var lastId = 6000L
    def nextId(): Long = { lastId += 1; lastId }
    def load(t: String): JsonNode =
      get(s"/v1/namespaces/$ns/tables/$t", srv)._2
    def stageOf(meta: JsonNode): java.nio.file.Path =
      java.nio.file.Paths.get(URI.create(
        meta.get("properties").get("write.data.path").asText() + "/"))
    def baseOf(ld: JsonNode): Seq[java.nio.file.Path] =
      graft.versioned.IcebergImport.plan(
        java.nio.file.Paths.get(ld.get("metadata-location").asText()))
        .dataPaths.map(java.nio.file.Paths.get(_))
    /** A fresh file of `rows` under the table's staging dir. */
    def file(meta: JsonNode, rows: Seq[(Int, String)]): java.nio.file.Path = {
      val f = stageOf(meta).resolve(s"f-${nextId()}.parquet")
      writeOneParquet(rows.toDF("id", "v"), f)
      f
    }
    /** The base file holding `id`, and that row's position in it. */
    def holding(ld: JsonNode, id: Int): (java.nio.file.Path, Long) =
      baseOf(ld).iterator.map { p =>
        p -> spark.read.parquet(p.toString).collect()
          .indexWhere(_.getInt(0) == id)
      }.collectFirst { case (p, i) if i >= 0 => (p, i.toLong) }.get
    def fieldId(meta: JsonNode, col: String): Int = {
      import scala.jdk.CollectionConverters._
      meta.get("schemas").elements().next().get("fields").elements().asScala
        .find(_.get("name").asText() == col).get.get("id").asInt()
    }
    def reqs(meta: JsonNode): String = {
      val ref = Option(meta.get("refs")).flatMap(r => Option(r.get("main")))
        .map(r => s""","snapshot-id":${r.get("snapshot-id").asLong()}""")
        .getOrElse("")
      s"""[{"type":"assert-table-uuid",
         |"uuid":"${meta.get("table-uuid").asText()}"},
         |{"type":"assert-ref-snapshot-id","ref":"main"$ref}]"""
        .stripMargin.replaceAll("\n", "")
    }
    def addSnap(id: Long, list: java.nio.file.Path, op: String,
        schemaId: Int = 0): String =
      s"""{"action":"add-snapshot","snapshot":{"snapshot-id":$id,
         |"timestamp-ms":1700000000000,"schema-id":$schemaId,
         |"manifest-list":"${list.toUri}","summary":{"operation":"$op"}}},
         |{"action":"set-snapshot-ref","ref-name":"main",
         |"snapshot-id":$id,"type":"branch"}"""
        .stripMargin.replaceAll("\n", "")
    /** add-schema (the served schema + one optional column) as id 1. */
    def addColumn(meta: JsonNode, col: String, typ: String): String = {
      import scala.jdk.CollectionConverters._
      val fields = meta.get("schemas").elements().next().get("fields")
        .elements().asScala.toSeq
      val next = fields.map(_.get("id").asInt()).max + 1
      s"""{"action":"add-schema","schema":{"type":"struct","schema-id":1,
         |"fields":[${fields.mkString(",")},{"id":$next,"name":"$col",
         |"required":false,"type":"$typ"}]}},
         |{"action":"set-current-schema","schema-id":-1}"""
        .stripMargin.replaceAll("\n", "")
    }
    def body(meta: JsonNode, updates: String*): String =
      s"""{"requirements":${reqs(meta)},"updates":[${updates.mkString(",")}]}"""
    /** An append of `rows` against `t`'s served base. */
    def append(t: String, rows: Seq[(Int, String)]): String = {
      val ld = load(t); val meta = ld.get("metadata"); val id = nextId()
      body(meta, addSnap(id,
        stageWriterCommit(scratch, id, baseOf(ld) :+ file(meta, rows)),
        "append"))
    }
    /** POST one CommitTableRequest-shaped body to table `t`: on the
      * single-table route, or as the only member of a transaction. */
    def post(t: String, txn: Boolean, b: String): (Int, JsonNode) =
      if (txn) send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[{"identifier":{"namespace":["main","db"],""" +
          s""""name":"$t"},${b.stripPrefix("{")}]}""", srv)
      else send("POST", s"/v1/namespaces/$ns/tables/$t", b, srv)
    def txn(members: (String, String)*): (Int, JsonNode) =
      send("POST", "/v1/transactions/commit", members.map { case (t, b) =>
        s"""{"identifier":{"namespace":["main","db"],"name":"$t"},""" +
          b.stripPrefix("{")
      }.mkString("""{"table-changes":[""", ",", "]}"), srv)
    /** Stage-create `t`; returns the staged metadata. */
    def stageCreate(t: String): JsonNode = {
      val (c, r) = send("POST", s"/v1/namespaces/$ns/tables",
        s"""{"name":"$t","stage-create":true,"schema":{"type":"struct",
           |"schema-id":0,"fields":[
           |{"id":1,"name":"id","required":false,"type":"int"},
           |{"id":2,"name":"v","required":false,"type":"string"}]},
           |"properties":{"owner":"ctas"}}"""
          .stripMargin.replaceAll("\n", ""), srv)
      c shouldBe 200
      r.get("metadata")
    }
    /** The assert-create commit publishing staged `sm` with `list`. */
    def createBody(sm: JsonNode, id: Long, list: String): String =
      s"""{"requirements":[{"type":"assert-create"}],"updates":[
         |{"action":"assign-uuid","uuid":"${sm.get("table-uuid").asText()}"},
         |{"action":"add-schema","schema":${mapper.writeValueAsString(
             sm.get("schemas").elements().next())}},
         |{"action":"set-current-schema","schema-id":-1},
         |{"action":"add-partition-spec","spec":{"spec-id":0,"fields":[]}},
         |{"action":"set-default-spec","spec-id":-1},
         |{"action":"set-properties","updates":{"stage":"1"}},
         |{"action":"add-snapshot","snapshot":{"snapshot-id":$id,
         |"timestamp-ms":1700000000000,"schema-id":0,
         |"manifest-list":"$list","summary":{"operation":"append"}}},
         |{"action":"set-snapshot-ref","ref-name":"main",
         |"snapshot-id":$id,"type":"branch"}]}"""
        .stripMargin.replaceAll("\n", "")
    /** Rows, live files as (rows, sequence), properties and schema of
      * `t` at the branch head — what parity compares. The schema id a
      * transaction records for an engine is left out: only the route
      * that answers without metadata records it. */
    def state(t: String): (Seq[String], Seq[(Long, Long)],
        Map[String, String], String) = {
      val g = GraftRepo.open(root)
      val sn = g.snapshot(g.resolve("main").tables(s"db/$t"))
      (sql(s"SELECT * FROM g.$name.main.db.$t").collect().map(_.toString)
        .toSeq.sorted, sn.files.map(f => (f.rows, f.seqNo)).sorted,
        sn.properties - "graft.rest.schema-id", sn.schemaJson)
    }
    def errType(r: JsonNode): String = r.get("error").get("type").asText()
    def close(): Unit = srv.close()
  }

  test("one commit pipeline (PARITY): every member shape lands the same " +
    "rows, live files, sequence numbers and properties as a single-table " +
    "commit and as a one-member transaction on twin tables; every " +
    "refused shape answers the same status and error type both ways") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.parity")
    sql("CREATE NAMESPACE g.parity.main.db")
    Seq("a", "b").foreach { t =>
      sql(s"CREATE TABLE g.parity.main.db.$t (id INT, v STRING)")
      sql(s"INSERT INTO g.parity.main.db.$t VALUES (1,'a'), (2,'b'), (3,'c')")
    }
    val p = new Pipeline("parity")
    import p._
    try {
      val shapes: Seq[(String, String => String)] = Seq(
        "append" -> (t => append(t, Seq((4, "d")))),
        "equality delete (+ same-commit add)" -> { t =>
          val ld = load(t); val meta = ld.get("metadata"); val id = nextId()
          val eq = stageOf(meta).resolve(s"eq-${nextId()}.parquet")
          writeOneParquet(Seq(2).toDF("id"), eq)
          body(meta, addSnap(id, stageMixedDeleteCommit(scratch, id,
            baseOf(ld) :+ file(meta, Seq((2, "B"))),
            Seq((eq, 2, Some(Seq(fieldId(meta, "id")))))), "overwrite"))
        },
        "positional delete" -> { t =>
          val ld = load(t); val meta = ld.get("metadata"); val id = nextId()
          val (dirty, pos) = holding(ld, 1)
          val pd = stageOf(meta).resolve(s"pos-${nextId()}.parquet")
          writeOneParquet(Seq((dirty.toUri.toString, pos))
            .toDF("file_path", "pos"), pd)
          body(meta, addSnap(id, stageMixedDeleteCommit(scratch, id,
            baseOf(ld), Seq((pd, 1, None))), "delete"))
        },
        "overwrite (CoW drop)" -> { t =>
          val ld = load(t); val meta = ld.get("metadata"); val id = nextId()
          val (dropped, _) = holding(ld, 4)
          body(meta, addSnap(id, stageWriterCommit(scratch, id,
            baseOf(ld).filterNot(_ == dropped) :+ file(meta, Seq((40, "dd")))),
            "overwrite"))
        },
        "evolve+append" -> { t =>
          val ld = load(t); val meta = ld.get("metadata"); val id = nextId()
          val f = stageOf(meta).resolve(s"wide-${nextId()}.parquet")
          writeOneParquet(Seq((5, "e", 50L)).toDF("id", "v", "flag"), f)
          body(meta, addColumn(meta, "flag", "long"), addSnap(id,
            stageWriterCommit(scratch, id, baseOf(ld) :+ f), "append",
            schemaId = 1))
        },
        "schema-only" -> (t => body(load(t).get("metadata"),
          addColumn(load(t).get("metadata"), "note", "string"))),
        "properties-only" -> (t => body(load(t).get("metadata"),
          """{"action":"set-properties","updates":{"owner":"etl"}}""")))
      shapes.foreach { case (shape, build) =>
        val (ca, ea) = post("a", txn = false, build("a"))
        val (cb, eb) = post("b", txn = true, build("b"))
        withClue(s"$shape: $ea / $eb: ") {
          ca shouldBe 200
          cb shouldBe 204
          state("a") shouldBe state("b")
        }
      }
      state("a")._1 shouldBe Seq("[2,B,null,null]", "[3,c,null,null]",
        "[40,dd,null,null]", "[5,e,50,null]")
      state("a")._3.get("owner") shouldBe Some("etl")

      // an assert-create CTAS, staged on twin names
      Seq("ca" -> false, "cb" -> true).foreach { case (t, viaTxn) =>
        val sm = stageCreate(t); val id = nextId()
        val list = stageWriterCommit(scratch, id,
          Seq(file(sm, Seq((7, "x"), (8, "y")))))
        val (c, e) = post(t, viaTxn, createBody(sm, id, list.toUri.toString))
        withClue(e.toString) { c shouldBe (if (viaTxn) 204 else 200) }
      }
      state("ca") shouldBe state("cb")
      state("ca")._3.get("stage") shouldBe Some("1")

      // refused shapes: the same status and error type both ways, and
      // neither twin moves
      val refused: Seq[(String, String => String)] = Seq(
        "an append that drops base files" -> { t =>
          val meta = load(t).get("metadata"); val id = nextId()
          body(meta, addSnap(id, stageWriterCommit(scratch, id,
            Seq(file(meta, Seq((9, "z"))))), "append"))
        },
        "an unknown operation" -> (t => append(t, Seq((9, "z")))
          .replace("\"operation\":\"append\"", "\"operation\":\"expire\"")),
        "a stale requirement" -> (t => append(t, Seq((9, "z")))
          .replaceAll("(\"ref\":\"main\",\"snapshot-id\":)-?\\d+", "$1424242")),
        "a graft.* property" -> (t => body(load(t).get("metadata"),
          """{"action":"set-properties","updates":{"graft.mor.seq":"9"}}""")),
        "an equality delete posted as an append" -> { t =>
          val ld = load(t); val meta = ld.get("metadata"); val id = nextId()
          val eq = stageOf(meta).resolve(s"eq-${nextId()}.parquet")
          writeOneParquet(Seq(3).toDF("id"), eq)
          body(meta, addSnap(id, stageMixedDeleteCommit(scratch, id,
            baseOf(ld), Seq((eq, 2, Some(Seq(fieldId(meta, "id")))))),
            "append"))
        },
        "an unreadable manifest list" -> (t => body(load(t).get("metadata"),
          addSnap(nextId(), scratch.resolve("no-such-list.avro"), "append"))),
        "an unknown snapshot schema-id" -> (t => append(t, Seq((9, "z")))
          .replace("\"schema-id\":0", "\"schema-id\":77")),
        "a rollback with property updates" -> (t =>
          body(load(t).get("metadata"),
            """{"action":"set-snapshot-ref","ref-name":"main",""" +
              """"snapshot-id":424242,"type":"branch"}""",
            """{"action":"set-properties","updates":{"o":"x"}}""")),
        "a rollback with a schema change" -> { t =>
          val meta = load(t).get("metadata")
          body(meta, addColumn(meta, "late", "int"),
            """{"action":"set-snapshot-ref","ref-name":"main",""" +
              """"snapshot-id":424242,"type":"branch"}""")
        },
        "a member with no updates" -> (t =>
          s"""{"requirements":${reqs(load(t).get("metadata"))},"updates":[]}"""),
        "set-default-spec without a spec" -> (t =>
          body(load(t).get("metadata"),
            """{"action":"set-default-spec","spec-id":0}""")))
      refused.foreach { case (shape, build) =>
        val before = (state("a"), state("b"))
        val (ca, ea) = post("a", txn = false, build("a"))
        val (cb, eb) = post("b", txn = true, build("b"))
        withClue(s"$shape: $ea / $eb: ") {
          ca should (be >= 400 and be < 500)
          cb shouldBe ca
          errType(eb) shouldBe errType(ea)
          (state("a"), state("b")) shouldBe before
        }
      }
    } finally close()
  }

  test("transaction members speak the single-table vocabulary: the " +
    "requirements iceberg-core's UpdateRequirements posts and the " +
    "advisory no-op updates are accepted; a stale field requirement " +
    "409s; a foreign format version and a schema change riding a " +
    "rewrite refuse 400") {
    sql("CREATE NAMESPACE g.txnvoc")
    sql("CREATE NAMESPACE g.txnvoc.main.db")
    sql("CREATE TABLE g.txnvoc.main.db.t (id INT, v STRING)")
    sql("INSERT INTO g.txnvoc.main.db.t VALUES (1,'a')")
    val p = new Pipeline("txnvoc")
    import p._
    def ids(): Seq[Int] = sql("SELECT id FROM g.txnvoc.main.db.t ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    try {
      // iceberg-core's full requirement set, plus the named-ref form
      // createTag posts ("the ref must not exist yet"), riding an append
      // with every advisory update
      def fieldReqs(meta: JsonNode, specId: Int): String =
        s"""{"type":"assert-current-schema-id","current-schema-id":${
             meta.get("current-schema-id").asInt()}},
           |{"type":"assert-last-assigned-field-id","last-assigned-field-id":${
             meta.get("last-column-id").asInt()}},
           |{"type":"assert-default-spec-id","default-spec-id":$specId},
           |{"type":"assert-last-assigned-partition-id",
           |"last-assigned-partition-id":${meta.get("last-partition-id").asInt()}},
           |{"type":"assert-default-sort-order-id","default-sort-order-id":${
             meta.get("default-sort-order-id").asInt()}},
           |{"type":"assert-ref-snapshot-id","ref":"nosuchtag"}"""
          .stripMargin.replaceAll("\n", "")
      def member(specId: Int, extra: String*): String = {
        val b = append("t", Seq((ids().max + 1, "n")))
        val meta = load("t").get("metadata")
        b.replace("\"requirements\":[",
          s"""\"requirements\":[${fieldReqs(meta, specId)},""")
          .replace("]}", (("" +: extra).mkString(",")) + "]}")
      }
      val meta0 = load("t").get("metadata")
      val advisory = Seq(
        """{"action":"add-sort-order","sort-order":{"order-id":1,"fields":[]}}""",
        """{"action":"set-default-sort-order","sort-order-id":-1}""",
        """{"action":"set-statistics","snapshot-id":1,"statistics":{}}""",
        """{"action":"remove-snapshots","snapshot-ids":[1]}""",
        s"""{"action":"upgrade-format-version","format-version":${
          meta0.get("format-version").asInt()}}""",
        s"""{"action":"assign-uuid","uuid":"${meta0.get("table-uuid").asText()}"}""")
      val (c, e) = send("POST", "/v1/transactions/commit",
        s"""{"table-changes":[{"identifier":{"namespace":["main","db"],""" +
          s""""name":"t"},${member(meta0.get("default-spec-id").asInt(),
            advisory: _*).stripPrefix("{")}]}""", srv)
      withClue(e.toString) { c shouldBe 204 }
      ids() shouldBe Seq(1, 2)

      // a field requirement that no longer holds: 409, nothing lands
      val (cS, eS) = txn("t" -> member(7))
      cS shouldBe 409
      errType(eS) shouldBe "CommitFailedException"
      ids() shouldBe Seq(1, 2)

      // upgrading to a version this server does not serve refuses 400
      val (cF, _) = txn("t" -> member(meta0.get("default-spec-id").asInt(),
        """{"action":"upgrade-format-version","format-version":9}"""))
      cF shouldBe 400
      ids() shouldBe Seq(1, 2)

      // a schema change riding an overwrite refuses 400, as it does on
      // the single-table route
      val ld = load("t"); val meta = ld.get("metadata"); val id = nextId()
      val (cO, eO) = txn("t" -> body(meta, addColumn(meta, "flag", "long"),
        addSnap(id, stageWriterCommit(scratch, id,
          baseOf(ld) :+ file(meta, Seq((9, "z")))), "overwrite")))
      cO shouldBe 400
      eO.get("error").get("message").asText() should include ("append")
      ids() shouldBe Seq(1, 2)
    } finally close()
  }

  test("a transaction member posting an unknown snapshot schema-id " +
    "refuses 400 — the single-table rule — and nothing lands") {
    sql("CREATE NAMESPACE g.txnsid")
    sql("CREATE NAMESPACE g.txnsid.main.db")
    sql("CREATE TABLE g.txnsid.main.db.t (id INT, v STRING)")
    sql("INSERT INTO g.txnsid.main.db.t VALUES (1,'a')")
    val p = new Pipeline("txnsid")
    import p._
    try {
      val (c, e) = txn("t" -> append("t", Seq((2, "b")))
        .replace("\"schema-id\":0", "\"schema-id\":77"))
      withClue(e.toString) { c shouldBe 400 }
      e.get("error").get("message").asText() should include ("schema-id 77")
      sql("SELECT id FROM g.txnsid.main.db.t").collect()
        .map(_.getInt(0)).toSeq shouldBe Seq(1)
    } finally close()
  }

  test("a schema id an engine gave a schema inside a transaction stays " +
    "accepted only while that schema is current; the single-table route, " +
    "which answers the served metadata, records none") {
    sql("CREATE NAMESPACE g.sidrec")
    sql("CREATE NAMESPACE g.sidrec.main.db")
    Seq("t", "u").foreach { t =>
      sql(s"CREATE TABLE g.sidrec.main.db.$t (id INT, v STRING)")
      sql(s"INSERT INTO g.sidrec.main.db.$t VALUES (1,'a')")
    }
    val p = new Pipeline("sidrec")
    import p._
    def ids(t: String): Seq[Int] =
      sql(s"SELECT id FROM g.sidrec.main.db.$t ORDER BY id")
        .collect().map(_.getInt(0)).toSeq
    def appendAs(t: String, id: Int, sid: Int): String =
      append(t, Seq((id, "x"))).replace("\"schema-id\":0", s"\"schema-id\":$sid")
    try {
      // evolved inside a transaction as schema 1: an append under id 1
      // lands while that schema is current
      val meta = load("t").get("metadata")
      txn("t" -> body(meta, addColumn(meta, "flag", "long")))._1 shouldBe 204
      val (c1, e1) = txn("t" -> appendAs("t", 2, 1))
      withClue(e1.toString) { c1 shouldBe 204 }
      ids("t") shouldBe Seq(1, 2)
      // a native ALTER changes the schema: id 1 no longer names it
      sql("ALTER TABLE g.sidrec.main.db.t ADD COLUMN note STRING")
      Seq(true, false).foreach { viaTxn =>
        val (c, e) = post("t", viaTxn, appendAs("t", 3, 1))
        withClue(s"txn=$viaTxn: $e: ") { c shouldBe 400 }
        e.get("error").get("message").asText() should include ("schema-id 1")
      }
      ids("t") shouldBe Seq(1, 2)
      txn("t" -> appendAs("t", 3, 0))._1 shouldBe 204
      ids("t") shouldBe Seq(1, 2, 3)

      // evolved on the single-table route: the engine got id 0 back
      val metaU = load("u").get("metadata")
      post("u", txn = false,
        body(metaU, addColumn(metaU, "flag", "long")))._1 shouldBe 200
      txn("u" -> appendAs("u", 2, 1))._1 shouldBe 400
      txn("u" -> appendAs("u", 2, 0))._1 shouldBe 204
      ids("u") shouldBe Seq(1, 2)
    } finally close()
  }

  test("staged CREATE whose manifest list is missing or not avro answers " +
    "400 — on the single-table route and as a transaction member — and " +
    "creates nothing") {
    sql("CREATE NAMESPACE g.ctasbad")
    sql("CREATE NAMESPACE g.ctasbad.main.db")
    val p = new Pipeline("ctasbad")
    import p._
    try {
      val garbage = scratch.resolve("garbage.avro")
      Files.writeString(garbage, "not an avro file")
      for (list <- Seq(scratch.resolve("missing.avro"), garbage);
           viaTxn <- Seq(false, true)) {
        val sm = stageCreate("s")
        val (c, e) = post("s", viaTxn,
          createBody(sm, nextId(), list.toUri.toString))
        withClue(s"$list txn=$viaTxn: $e: ") {
          c shouldBe 400
          errType(e) shouldBe "ValidationException"
          e.get("error").get("message").asText() should include ("manifest-list")
        }
        get(s"/v1/namespaces/$ns/tables/s", srv)._1 shouldBe 404
      }
    } finally close()
  }

  test("member kinds that cannot share a commit — rollback, replace, tag " +
    "write, partition-spec change — land as one-member transactions and " +
    "refuse 400 beside a sibling; a member with no updates refuses 400 " +
    "on both routes; an advisory-only member makes no commit") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.txnkind")
    sql("CREATE NAMESPACE g.txnkind.main.db")
    sql("CREATE TABLE g.txnkind.main.db.k (id INT, v STRING)")
    sql("CREATE TABLE g.txnkind.main.db.sib (id INT, v STRING)")
    sql("INSERT INTO g.txnkind.main.db.k VALUES (1,'a'), (2,'b')")
    sql("INSERT INTO g.txnkind.main.db.k VALUES (3,'c')")
    sql("INSERT INTO g.txnkind.main.db.sib VALUES (10,'x')")
    val p = new Pipeline("txnkind", maxSnapshots = 5)
    import p._
    def ids(t: String): Seq[Int] =
      sql(s"SELECT id FROM g.txnkind.main.db.$t ORDER BY id")
        .collect().map(_.getInt(0)).toSeq
    try {
      val g = GraftRepo.open(root)
      val meta0 = load("k").get("metadata")
      val sid0 = meta0.get("current-snapshot-id").asLong()
      sql("INSERT INTO g.txnkind.main.db.k VALUES (4,'d')")
      def solo(b: String): Unit = {
        val (c, e) = txn("k" -> b)
        withClue(e.toString) { c shouldBe 204 }
      }
      def beside(b: String): Unit = {
        val (c, e) = txn("k" -> b, "sib" -> append("sib", Seq((99, "z"))))
        withClue(e.toString) { c shouldBe 400 }
        e.get("error").get("message").asText() should include ("only member")
        ids("sib") shouldBe Seq(10)
      }
      // rollback to the pre-insert snapshot
      def rollback(target: Long): String = body(load("k").get("metadata"),
        s"""{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":$target,"type":"branch"}"""
          .stripMargin.replaceAll("\n", ""))
      beside(rollback(sid0))
      ids("k") shouldBe Seq(1, 2, 3, 4)
      solo(rollback(sid0))
      ids("k") shouldBe Seq(1, 2, 3)

      // replace: the engine compacts both files into one
      def replace(): String = {
        val ld = load("k"); val meta = ld.get("metadata"); val id = nextId()
        val out = stageOf(meta).resolve(s"compacted-${nextId()}.parquet")
        writeOneParquet(spark.read.parquet(baseOf(ld).map(_.toString): _*)
          .orderBy("id").coalesce(1), out)
        body(meta, addSnap(id, stageWriterCommit(scratch, id, Seq(out)),
          "replace"))
      }
      beside(replace())
      solo(replace())
      ids("k") shouldBe Seq(1, 2, 3)
      g.headCommit("main").markerOpt shouldBe
        Some(graft.versioned.Commit.CompactMarker)
      g.snapshot(g.resolve("main").tables("db/k")).files.size shouldBe 1

      // tag write at the current snapshot
      def tag(name: String): String = {
        val sid = load("k").get("metadata").get("current-snapshot-id").asLong()
        s"""{"requirements":[],"updates":[{"action":"set-snapshot-ref",
           |"ref-name":"$name","snapshot-id":$sid,"type":"tag"}]}"""
          .stripMargin.replaceAll("\n", "")
      }
      beside(tag("t1"))
      g.tagExists("t1") shouldBe false
      solo(tag("t1"))
      g.tagExists("t1") shouldBe true

      // partition-spec change
      def respec(): String = {
        val meta = load("k").get("metadata")
        body(meta, s"""{"action":"add-partition-spec","spec":{"spec-id":1,
           |"fields":[{"name":"v","transform":"identity","source-id":${
             fieldId(meta, "v")},"field-id":1000}]}},
           |{"action":"set-default-spec","spec-id":-1}"""
          .stripMargin.replaceAll("\n", ""))
      }
      beside(respec())
      g.snapshot(g.resolve("main").tables("db/k")).partitionFields shouldBe empty
      solo(respec())
      g.snapshot(g.resolve("main").tables("db/k")).partitionFields
        .map(_.source) shouldBe Seq("v")

      // a member with no updates is a client bug on both routes, beside
      // a sibling too; an advisory-only member is a validated no-op that
      // makes no commit
      val headNoop = g.headCommit("main").id
      val onlyReqs = s"""{"requirements":${reqs(load("k").get("metadata"))}}"""
      val (cR, eR) = txn("k" -> onlyReqs, "sib" -> append("sib", Seq((11, "y"))))
      cR shouldBe 400
      eR.get("error").get("message").asText() should include ("no updates")
      ids("sib") shouldBe Seq(10)
      val (cN, eN) = post("k", txn = false,
        s"""{"requirements":${reqs(load("k").get("metadata"))},"updates":[]}""")
      cN shouldBe 400
      eN.get("error").get("message").asText() should include ("no updates")
      solo(body(load("k").get("metadata"),
        """{"action":"remove-snapshots","snapshot-ids":[1]}"""))
      g.headCommit("main").id shouldBe headNoop
    } finally close()
  }
}
