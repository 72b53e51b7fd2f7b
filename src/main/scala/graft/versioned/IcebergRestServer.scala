package graft.versioned

import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, Executors}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.TableChange
import org.apache.spark.sql.functions.col

/** Embedded Apache Iceberg REST catalog over graft repos — read-only by
  * default, with an opt-in WRITE path (`writable = true`) that turns
  * external engines' spec commits into graft commits.
  *
  * The reference is an Iceberg CATALOG ADAPTER — external engines reach
  * versioned tables through the Iceberg catalog API
  * (`LakeFSCatalog.java:42-334`). graft's native surface is a Spark DSv2
  * catalog, so this server re-expresses the same attachability in the
  * direction external engines actually speak today: the public Iceberg
  * REST Catalog protocol (apache/iceberg
  * `open-api/rest-catalog-open-api.yaml`). Any engine with an Iceberg
  * REST client (Spark, Trino, PyIceberg, DuckDB) can list and load graft
  * tables — on any branch or tag — without graft code on its classpath.
  *
  * Mapping: a REST namespace is `[ref]` (branch or tag) or
  * `[ref, db...]`; a table identifier is `{namespace: [ref, db],
  * name: t}` for graft key `db/t` read at `ref`. Multi-level namespaces
  * use the spec's 0x1F unit-separator encoding in URLs.
  *
  * Two serving modes:
  *  - [[IcebergRestServer.start]] — ONE repo at `/v1/namespaces/...`.
  *  - [[IcebergRestServer.startWarehouse]] — every repo under a root
  *    dir, routed by the spec's `prefix` path segment
  *    (`/v1/{repo}/namespaces/...`); a client asking
  *    `GET /v1/config?warehouse=<repo>` is answered with the prefix
  *    override, which is exactly how multi-tenant REST catalogs hand
  *    out routing.
  *
  * `loadTable` serves REAL Iceberg metadata: the graft snapshot exports
  * on demand into `exportRoot/(<repo>/)<ref>/<key>` ([[IcebergExport]] —
  * data files referenced zero-copy in place), memoized by the snapshot
  * id stamped in the exported metadata (`graft.source-snapshot`), so an
  * unchanged table re-serves its existing metadata with zero work and a
  * changed table re-exports O(changed chunks) at the NEXT version number
  * (readers polling older metadata keep reading it in place — same
  * contract as sync dests). By default the server is read-only: every
  * mutating verb answers 405 with a spec-shaped ErrorResponse.
  *
  * WRITE PATH (`writable = true`) — the REST analog of the reference's
  * commit flow (`LakeFSTableOperations.commit`, java:115-147: engines
  * write data, the catalog validates the base and swaps the pointer):
  *  - `POST /v1/namespaces` creates a BRANCH (1-level, zero-copy from
  *    `properties.from`, default main) or a db namespace on a branch.
  *  - `POST .../namespaces/{ns}/tables` creates an empty graft table
  *    from the posted Iceberg schema + partition spec; with
  *    `stage-create: true` it answers STAGED (snapshot-less) metadata
  *    and commits nothing — the spec's transactional CTAS staging; the
  *    table materializes when the engine posts the staged commit.
  *  - TABLE COMMITS: `POST .../tables/{t}` (CommitTableRequest) is a
  *    one-member transaction; `POST /v1/transactions/commit`
  *    (CommitTransactionRequest, answered 204) carries any number of
  *    members on ONE branch, each table named once. Every member goes
  *    through one pipeline — parse → validate against the served state
  *    → stage → publish — and all members land in ONE graft commit or
  *    none does (the repo-level transactionality the reference
  *    inherits from lakeFS).
  *     - Requirements: `assert-create`, `assert-table-uuid`,
  *       `assert-ref-snapshot-id` (main, or a named tag ref),
  *       `assert-current-schema-id`, `assert-last-assigned-field-id`,
  *       `assert-default-spec-id`, `assert-last-assigned-partition-id`
  *       and `assert-default-sort-order-id`, validated against the
  *       served metadata; each member's base is re-checked against the
  *       branch head INSIDE the commit race, so a requirement that no
  *       longer holds at publish answers 409 CommitFailedException, the
  *       client's signal to refresh and retry.
  *     - Updates: `add-snapshot` (+ its `set-snapshot-ref` on main),
  *       `set-properties` / `remove-properties` (graft.* keys are engine
  *       state and refuse), `add-schema` + `set-current-schema` (lowered
  *       by field-id diff onto graft's metadata-only evolution,
  *       [[SchemaEvolution]]: add / rename / widen / drop, with native
  *       ALTER's guards), `add-partition-spec` + `set-default-spec`, and
  *       tag `set-snapshot-ref` / `remove-snapshot-ref`. Sort orders,
  *       statistics pointers, `remove-snapshots`, an
  *       `upgrade-format-version` to the served version and an
  *       `assign-uuid` of the served uuid are validated no-ops; a
  *       member with no update at all refuses 400.
  *     - A posted snapshot's manifest list is walked with
  *       [[IcebergImport]]; files already under the repo's data plane
  *       register ZERO-COPY (served metadata stamps `write.data.path`
  *       inside the data plane, so compliant writers stage there), others
  *       are copied in from the table's served location; FileEntry stats
  *       come from O(new files) parquet footer reads — no Spark job, no
  *       data scan. `append` may not drop base files and may ride an
  *       `add-schema` (evolve+append); `overwrite`/`delete` is the
  *       engine's copy-on-write rewrite (dropped base files leave the
  *       live set, added files register at the table's next sequence);
  *       EQUALITY delete files (content=2) lower onto ONE graft predicate
  *       tombstone with same-commit adds exempt (the spec's
  *       strictly-lower rule — the Flink-upsert shape); POSITIONAL
  *       delete files and v3 DELETION VECTORS lower onto a server-side
  *       CoW rewrite of exactly the referenced files, which equality
  *       deletes and same-commit adds may ride; `replace` is the
  *       engine's own compaction, landed as a structural compaction
  *       commit.
  *     - An `assert-create` member publishes a STAGED CREATE: schema,
  *       spec, properties and the first snapshot land together, and of
  *       concurrent creators exactly one wins.
  *     - A `set-snapshot-ref` to a prior served snapshot, with no
  *       snapshot, schema or property update beside it, is an engine
  *       ROLLBACK: a zero-copy pointer swap, or a file-set revert across
  *       a metadata change.
  *     - Rollbacks, replaces, tag writes and partition-spec changes must
  *       be a commit's only member.
  *     - What refuses loudly with 400: NULL-valued or oversized
  *       (> [[IcebergExport.MaxEqualityRows]]) equality deletes,
  *       positional deletes referencing files neither live at the base
  *       nor added by the commit, CoW file drops mixed with MoR deletes,
  *       schema changes on a non-append snapshot, a snapshot `schema-id`
  *       the commit neither serves nor adds (nor an earlier transaction
  *       recorded for the current schema), an unreadable manifest
  *       list, and a replace that adds delete files or changes the live
  *       row count beyond what its retired deletes masked.
  *  - `DELETE .../tables/{t}` drops (optionally `purgeRequested=true`
  *    with the engine catalog's purge semantics); `POST /tables/rename`
  *    re-keys the commit map in one metadata commit, same-branch only
  *    (r17 — the reference throws, LakeFSCatalog.java:218, because its
  *    table identity is a storage path; graft's is a commit-map key).
  *  - VIEWS (r12): graft's versioned views serve over the spec's REST
  *    view API — `GET .../views` lists, `GET/HEAD .../views/{v}` load
  *    real ViewMetadata (one current version per served head — graft
  *    versions views by branch commit — with the stored spark-dialect
  *    SQL representation and a default-namespace whose branch segment
  *    is the served ref, graft's branch-following semantics);
  *    `POST .../views` creates (writable servers; concurrent creates
  *    race in the commit and one wins), `DELETE` drops.
  *    `POST .../views/{v}` (replace — the engine's CREATE OR REPLACE
  *    VIEW) swaps the definition in one view commit, prior versions
  *    staying reachable through branch history; properties-only
  *    commits work too. View rename refuses like table rename.
  *  - `POST .../tables/{t}/metrics` accepts (and discards) the spec's
  *    reader scan reports, even on read-only servers — telemetry must
  *    never make an engine's query path log errors.
  *  - `DELETE .../namespaces/{ns}` drops a db namespace (tables AND
  *    views count as content → 409 NamespaceNotEmpty) or an EMPTY
  *    branch; `POST .../namespaces/{ns}/properties` commits the spec's
  *    removals/updates and answers the {updated, removed, missing}
  *    triple, surfaced back through GetNamespaceResponse.
  *  - `POST .../namespaces/{ns}/register` (r12) RE-HOMES an existing
  *    Iceberg table: the named metadata-location's current LIVE rows
  *    (deletes applied) are read through the independent importer and
  *    land as native graft files in one commit — the catalog-migration
  *    entry point, after which the table branches/merges/time-travels
  *    like any graft table.
  */
final class IcebergRestServer private (single: Option[GraftRepo],
    reposRoot: Option[Path], exportRoot: Path, spark: Option[SparkSession],
    maxSnapshots: Int, formatVersion: Int, writable: Boolean,
    token: Option[String], credential: Option[String], oauthTtlSec: Long,
    server: HttpServer) {

  import IcebergRestServer._

  def port: Int = server.getAddress.getPort

  def uri: String = s"http://127.0.0.1:$port"

  def close(): Unit = {
    server.stop(0)
    // stop(0) does not stop a user-provided executor — without this a
    // process cycling servers leaks 4 pool threads per instance
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ => ()
    }
  }

  private val mapper = new ObjectMapper()
  // OAuth2 client_credentials support (opt-in via the `credential`
  // start option, "client_id:client_secret"): tokens minted by
  // `POST /v1/oauth/tokens`, stored as SHA-256 digests → expiry
  // epoch-millis (the raw token never lands server-side; expired
  // entries are evicted on every mint, so the map is bounded by the
  // number of LIVE tokens)
  private val mintedTokens = new ConcurrentHashMap[String, java.lang.Long]()
  private val tokenRng = new java.security.SecureRandom()
  private val exportLocks = new ConcurrentHashMap[String, Object]()
  private val repoCache = new ConcurrentHashMap[String, GraftRepo]()
  // rollback's exported-sid → graft-snapshot inversion, memoized per
  // served table and keyed by the head commit it was built at, with a
  // FRONTIER (the next unwalked first-parent commit id, None =
  // exhausted): the walk is LAZY — it stops at the requested sid, so
  // the first rollback loads only the commits between head and target
  // (never the whole history of a deep table), a repeat rollback loads
  // zero commits, a deeper target resumes from the frontier, and a
  // rollback after new commits walks only the delta above the
  // previously indexed head
  private val rollbackSidIndex =
    new ConcurrentHashMap[String, (String, Map[Long, String], Option[String])]()

  /** The repo a request's optional `{prefix}` segment addresses. */
  private def repoFor(prefix: Option[String]): GraftRepo = (prefix, single) match {
    case (None, Some(r)) => r
    case (Some(p), None) =>
      val root = reposRoot.get.resolve(p)
      if (p.contains("/") || p.contains("..") ||
        !Files.isDirectory(root.resolve("refs")))
        throw new NoSuchElementException(s"no such repo (prefix): $p")
      repoCache.computeIfAbsent(p, _ => GraftRepo.open(root))
    case (Some(p), Some(_)) =>
      throw new NoSuchElementException(
        s"no such route: this server hosts one repo, got prefix $p")
    case (None, None) =>
      throw new NoSuchElementException(
        "missing {prefix}: this server hosts a warehouse — ask " +
          "GET /v1/config?warehouse=<repo> for your prefix")
  }

  // ---- request routing ---------------------------------------------------

  private[versioned] def handle(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    // URI.getPath is percent-DECODED: a %1F namespace separator is
    // already the raw 0x1F char here
    val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toSeq
    val query = Option(ex.getRequestURI.getRawQuery)
    try {
      // /v1/config and /v1[/{prefix}]/namespaces/...
      val (prefix, route) = segs match {
        case "v1" +: tail => tail match {
          case "config" +: _ => (None, tail)
          case ("namespaces" | "tables" | "transactions") +: _ =>
            (None, tail)
          case p +: rest if rest.headOption.exists(h =>
            h == "namespaces" || h == "tables" || h == "transactions") =>
            (Some(p), rest)
          case _ => (None, tail)
        }
        case _ => (None, segs)
      }
      // Bearer auth (opt-in via the `token` and/or `credential` start
      // options): every route except `GET /v1/config` and the OAuth
      // exchange itself requires a valid `Authorization: Bearer` — the
      // config endpoint stays open so a client can discover the
      // catalog's capabilities (and that it must authenticate) before
      // presenting credentials, and `POST /v1/oauth/tokens` IS the
      // credential presentation. A bearer is valid if it matches the
      // static `token` (constant-time compare: the check must not leak
      // a prefix-length oracle through response timing) or is a LIVE
      // minted OAuth token (digest lookup — the compare is against
      // SHA-256 images, inheriting the same property).
      val openRoute = (method == "GET" && route == Seq("config")) ||
        (method == "POST" && route == Seq("oauth", "tokens"))
      val authOk = openRoute || ((token, credential) match {
        case (None, None) => true
        case _ => bearerOf(ex).exists(t =>
          token.exists(ctEq(t, _)) || mintedValid(t))
      })
      if (!authOk) {
        replyError(ex, 401, "NotAuthorizedException",
          "missing or invalid bearer token")
        return
      }
      (method, route) match {
        case ("POST", Seq("oauth", "tokens")) =>
          handleOauth(ex)
        case ("GET", Seq("config")) =>
          reply(ex, 200, config(query))
        case ("GET", Seq("namespaces")) =>
          reply(ex, 200, listNamespaces(repoFor(prefix), query))
        case ("GET", Seq("namespaces", ns)) =>
          reply(ex, 200, describeNamespace(repoFor(prefix), levels(ns)))
        case ("GET", Seq("namespaces", ns, "tables")) =>
          reply(ex, 200, listTables(repoFor(prefix), levels(ns), query))
        case ("GET", Seq("namespaces", ns, "tables", t)) =>
          reply(ex, 200, loadTable(repoFor(prefix), prefix, levels(ns), t))
        case ("HEAD", Seq("namespaces", ns, "tables", t)) =>
          resolveKey(repoFor(prefix), levels(ns), t) // throws -> 404
          ex.sendResponseHeaders(200, -1); ex.close()
        case ("GET", Seq("namespaces", ns, "views")) =>
          reply(ex, 200, listViews(repoFor(prefix), levels(ns), query))
        case ("GET", Seq("namespaces", ns, "views", v)) =>
          reply(ex, 200, loadRestView(repoFor(prefix), prefix,
            levels(ns), v))
        case ("HEAD", Seq("namespaces", ns, "views", v)) =>
          resolveViewKey(repoFor(prefix), levels(ns), v) // throws -> 404
          ex.sendResponseHeaders(200, -1); ex.close()
        case ("HEAD", Seq("namespaces", ns)) =>
          // namespaceExists — the spec's HEAD (204 when present);
          // PyIceberg/iceberg-java probe it before create/use
          describeNamespace(repoFor(prefix), levels(ns)) // throws -> 404
          ex.sendResponseHeaders(204, -1); ex.close()
        case ("GET" | "HEAD", _) =>
          throw new NoSuchElementException(
            s"no such route: ${segs.mkString("/")}")
        case ("POST", Seq("namespaces", ns, "tables", t, "metrics")) =>
          // spec ReportMetricsRequest: READER telemetry, fire-and-forget
          // — accepted (and discarded) even on read-only servers, since
          // refusing makes engines log an error after every scan
          resolveKey(repoFor(prefix), levels(ns), t) // 404 on no table
          body(ex) // malformed JSON still answers 400, not silence
          ex.sendResponseHeaders(204, -1); ex.close()
        case _ if !writable =>
          replyError(ex, 405, "UnsupportedOperationException",
            s"graft REST catalog is read-only: $method not supported")
        case ("POST", Seq("namespaces")) =>
          reply(ex, 200, createNamespace(repoFor(prefix), body(ex)))
        case ("POST", Seq("namespaces", ns, "tables")) =>
          reply(ex, 200, createTable(repoFor(prefix), prefix,
            levels(ns), body(ex)))
        case ("POST", Seq("namespaces", ns, "tables", t)) =>
          reply(ex, 200, commitTable(repoFor(prefix), prefix,
            levels(ns), t, body(ex)))
        case ("DELETE", Seq("namespaces", ns)) =>
          dropRestNamespace(repoFor(prefix), levels(ns))
          ex.sendResponseHeaders(204, -1); ex.close()
        case ("POST", Seq("namespaces", ns, "properties")) =>
          reply(ex, 200, updateNamespaceProps(repoFor(prefix),
            levels(ns), body(ex)))
        case ("DELETE", Seq("namespaces", ns, "tables", t)) =>
          dropTable(repoFor(prefix), levels(ns), t,
            queryParam(query, "purgeRequested").contains("true"))
          ex.sendResponseHeaders(204, -1); ex.close()
        case ("POST", Seq("namespaces", ns, "register")) =>
          reply(ex, 200, registerTable(repoFor(prefix), prefix,
            levels(ns), body(ex)))
        case ("POST", Seq("namespaces", ns, "views")) =>
          reply(ex, 200, createRestView(repoFor(prefix), prefix,
            levels(ns), body(ex)))
        case ("POST", Seq("namespaces", ns, "views", v)) =>
          reply(ex, 200, replaceRestView(repoFor(prefix), prefix,
            levels(ns), v, body(ex)))
        case ("DELETE", Seq("namespaces", ns, "views", v)) =>
          dropRestView(repoFor(prefix), levels(ns), v)
          ex.sendResponseHeaders(204, -1); ex.close()
        case ("POST", Seq("tables", "rename")) =>
          renameRestTable(repoFor(prefix), body(ex))
          ex.sendResponseHeaders(204, -1); ex.close()
        case ("POST", Seq("views", "rename")) =>
          throw new UnsupportedOperationException(
            "view rename is not supported")
        case ("POST", Seq("transactions", "commit")) =>
          commitTransaction(repoFor(prefix), prefix, body(ex))
          ex.sendResponseHeaders(204, -1); ex.close()
        case _ =>
          replyError(ex, 405, "UnsupportedOperationException",
            s"no such route for $method: ${segs.mkString("/")}")
      }
    } catch {
      case e: NoSuchElementException =>
        val msg = Option(e.getMessage).getOrElse("not found")
        val t = if (msg.startsWith("no such table")) "NoSuchTableException"
        else if (msg.startsWith("no such view")) "NoSuchViewException"
        else "NoSuchNamespaceException"
        replyError(ex, 404, t, msg)
      case e: RestConflict =>
        replyError(ex, 409, e.typ, e.getMessage)
      case e: CommitConflictException =>
        // a graft CAS that lost out (e.g. commitRetry exhausted under
        // contention) is the same refresh-and-retry signal as a failed
        // requirement — a 500 here would read as commit-state-unknown
        replyError(ex, 409, "CommitFailedException",
          Option(e.getMessage).getOrElse("commit conflict"))
      case e: MergeConflictException =>
        // a replace's concurrent-rewrite validation (a dropped file
        // already rewritten away by another committer) is a refresh-and-
        // retry signal too, not an internal error
        replyError(ex, 409, "CommitFailedException",
          Option(e.getMessage).getOrElse("concurrent rewrite conflict"))
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        replyError(ex, 400, "ValidationException",
          s"malformed JSON body: ${e.getOriginalMessage}")
      case e @ (_: IllegalArgumentException |
                _: UnsupportedOperationException) =>
        replyError(ex, 400, "ValidationException",
          Option(e.getMessage).getOrElse("invalid request"))
      case e: Exception =>
        replyError(ex, 500, e.getClass.getSimpleName,
          Option(e.getMessage).getOrElse("internal error"))
    }
  }

  private def body(ex: HttpExchange): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(ex.getRequestBody)

  /** (id, name) of a posted schema field node — absent members are the
    * CLIENT's error (400), never a server NPE (500). */
  private def fieldIdName(
      f: com.fasterxml.jackson.databind.JsonNode): (Int, String) = {
    val id = Option(f.get("id")).getOrElse(
      throw new IllegalArgumentException("schema field missing 'id'"))
    val nm = Option(f.get("name")).getOrElse(
      throw new IllegalArgumentException("schema field missing 'name'"))
    id.asInt() -> nm.asText()
  }

  /** Required field of a request node, as text — absent/null fields are
    * the CLIENT's error (400), never a server NPE (500). */
  private def text(node: com.fasterxml.jackson.databind.JsonNode,
      field: String): String =
    Option(node.get(field)).filterNot(_.isNull).map(_.asText()).getOrElse(
      throw new IllegalArgumentException(s"request is missing '$field'"))

  /** Namespace URL segment → levels (spec: joined by 0x1F). */
  private def levels(seg: String): Seq[String] =
    seg.split('\u001F').filter(_.nonEmpty).toSeq

  private def queryParam(rawQuery: Option[String], name: String): Option[String] =
    rawQuery.flatMap(_.split("&").collectFirst {
      case kv if kv.startsWith(s"$name=") =>
        java.net.URLDecoder.decode(kv.drop(name.length + 1), "UTF-8")
    })

  /** The spec's OPAQUE-token pagination for the list routes. Listings
    * are already deterministically sorted, so the token is simply the
    * base64 of the last key served; a request without `pageSize` (or
    * with a non-positive one) gets the whole listing — the spec lets
    * clients and servers each opt out. `itemsFrom(after)` must return
    * the sorted items STRICTLY AFTER the key `after` (None = all) as a
    * LAZY iterator — a caller that can seek (the tree-segmented table
    * map) serves a page in O(seek + pageSize) server work, never a
    * full-listing walk. `keyOf` renders an item's sort key. Returns
    * (page, next-page-token).
    */
  private def paginateFrom[T](rawQuery: Option[String])(
      itemsFrom: Option[String] => Iterator[T])(
      keyOf: T => String): (Seq[T], Option[String]) = {
    val size = queryParam(rawQuery, "pageSize").flatMap(s =>
      scala.util.Try(s.toInt).toOption).filter(_ > 0)
    val after = queryParam(rawQuery, "pageToken").filter(_.nonEmpty).map(t =>
      new String(java.util.Base64.getUrlDecoder.decode(t),
        java.nio.charset.StandardCharsets.UTF_8))
    val remaining = itemsFrom(after)
    size match {
      case None => (remaining.toSeq, None)
      case Some(n) =>
        // n + 1: one look-ahead decides whether a next page exists
        // without walking the rest of the listing
        val page = remaining.take(n + 1).toSeq
        if (page.lengthCompare(n) > 0)
          (page.take(n),
            Some(java.util.Base64.getUrlEncoder.withoutPadding
              .encodeToString(keyOf(page(n - 1)).getBytes(
                java.nio.charset.StandardCharsets.UTF_8))))
        else (page, None)
    }
  }

  /** Pagination over an in-memory sorted listing (namespaces, views —
    * small by construction; the 100k-scale table listing seeks through
    * [[paginateFrom]] with the tree map's `iteratorFrom` instead). */
  private def paginate[T](items: Seq[T], rawQuery: Option[String])(
      keyOf: T => String): (Seq[T], Option[String]) =
    paginateFrom(rawQuery)(after => after match {
      case Some(a) => items.iterator.dropWhile(i => keyOf(i) <= a)
      case None => items.iterator
    })(keyOf)

  // ---- endpoint bodies ---------------------------------------------------

  private def config(rawQuery: Option[String]): ObjectNode = {
    val o = mapper.createObjectNode()
    o.set[ObjectNode]("defaults", mapper.createObjectNode())
    val overrides = mapper.createObjectNode()
    queryParam(rawQuery, "warehouse").filter(_ => single.isEmpty)
      .foreach { w =>
        repoFor(Some(w)) // 404 on an unknown repo
        overrides.put("prefix", w)
      }
    o.set[ObjectNode]("overrides", overrides)
    // capability negotiation (spec `endpoints`): clients like pyiceberg
    // only call the view/write routes a server advertises — without
    // this list they assume the tables-only minimum
    val eps = o.putArray("endpoints")
    val reads = Seq(
      "GET /v1/{prefix}/namespaces",
      "GET /v1/{prefix}/namespaces/{namespace}",
      "HEAD /v1/{prefix}/namespaces/{namespace}",
      "GET /v1/{prefix}/namespaces/{namespace}/tables",
      "GET /v1/{prefix}/namespaces/{namespace}/tables/{table}",
      "HEAD /v1/{prefix}/namespaces/{namespace}/tables/{table}",
      "GET /v1/{prefix}/namespaces/{namespace}/views",
      "GET /v1/{prefix}/namespaces/{namespace}/views/{view}",
      "HEAD /v1/{prefix}/namespaces/{namespace}/views/{view}")
    val writes = Seq(
      "POST /v1/{prefix}/namespaces",
      "POST /v1/{prefix}/transactions/commit",
      "DELETE /v1/{prefix}/namespaces/{namespace}",
      "POST /v1/{prefix}/namespaces/{namespace}/properties",
      "POST /v1/{prefix}/namespaces/{namespace}/tables",
      "POST /v1/{prefix}/namespaces/{namespace}/register",
      "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}",
      "DELETE /v1/{prefix}/namespaces/{namespace}/tables/{table}",
      "POST /v1/{prefix}/namespaces/{namespace}/views",
      "POST /v1/{prefix}/namespaces/{namespace}/views/{view}",
      "DELETE /v1/{prefix}/namespaces/{namespace}/views/{view}")
    (if (writable) reads ++ writes else reads).foreach(eps.add)
    o
  }

  private def refNames(repo: GraftRepo): Seq[String] =
    repo.branches ++ repo.tags

  /** Sorted table keys STRICTLY AFTER `after` as a lazy iterator — the
    * seek primitive every list/exists route shares: a tree-segmented
    * map binary-ranges its chunk refs (Trees.LazyTableMap.iteratorFrom)
    * so one probe costs O(log chunks + 1), never a full-key walk. */
  private def sortedKeysFrom(tables: Map[String, String],
      after: Option[String]): Iterator[String] = tables match {
    case t: Trees.LazyTableMap => t.iteratorFrom(after).map(_._1)
    case t =>
      val sorted = t.keysIterator.toSeq.sorted
      after.fold(sorted.iterator)(a => sorted.iterator.dropWhile(_ <= a))
  }

  /** Does any table key at this commit live under `dirs/`? ONE seek. */
  private def hasKeyUnder(commit: Commit, dirs: Seq[String]): Boolean = {
    val prefix = dirs.mkString("/") + "/"
    sortedKeysFrom(commit.tables, Some(prefix))
      .nextOption().exists(_.startsWith(prefix))
  }

  private def listNamespaces(repo: GraftRepo,
      rawQuery: Option[String]): ObjectNode = {
    val parent = queryParam(rawQuery, "parent").map(levels).getOrElse(Nil)
    val children: Seq[Seq[String]] = parent match {
      case Nil => refNames(repo).map(Seq(_))
      case ref +: dirs =>
        if (!refNames(repo).contains(ref)) throwNoNs(parent)
        val commit = repo.resolve(ref)
        // distinct child segments from TABLE KEYS by SUCCESSOR SEEKS
        // over the sorted key space: after emitting child `s`, jump
        // straight past its subtree to prefix+s+'0' ('/'+1) — on a
        // tree-segmented map each jump is a binary range + one chunk,
        // so a 100k-table branch lists its handful of namespaces in
        // O(children · log chunks), never a full-key walk
        val prefix = if (dirs.isEmpty) "" else dirs.mkString("/") + "/"
        val fromKeys = Seq.newBuilder[String]
        var it = sortedKeysFrom(commit.tables, Some(prefix).filter(_.nonEmpty))
        var scanning = true
        while (scanning) it.nextOption() match {
          case Some(k) if k.startsWith(prefix) =>
            val rest = k.drop(prefix.length)
            val seg = rest.takeWhile(_ != '/')
            if (rest.length > seg.length) {
              // deeper segments exist → `seg` is a namespace child;
              // skip its whole subtree in one seek
              fromKeys += seg
              it = sortedKeysFrom(commit.tables, Some(prefix + seg + "0"))
            }
            // else k is a direct table at this level: a table `db/a`
            // and a namespace `db/a/...` may coexist, so step past the
            // KEY only (the very next key may open the a/ subtree)
          case _ => scanning = false
        }
        val fromNs = commit.namespaces.keys.map(_.split('/').toSeq)
          .filter(k => k.length > dirs.length && k.startsWith(dirs))
          .map(k => k(dirs.length))
        (fromKeys.result() ++ fromNs).distinct.map(seg => parent :+ seg)
    }
    val o = mapper.createObjectNode()
    val arr = o.putArray("namespaces")
    val (page, next) = paginate(
      // "/" never occurs inside a segment (keys come from split('/'))
    children.sortBy(_.mkString("/")), rawQuery)(_.mkString("/"))
    page.foreach { ns =>
      val a = arr.addArray(); ns.foreach(a.add)
    }
    next.foreach(o.put("next-page-token", _))
    o
  }

  private def throwNoNs(ns: Seq[String]): Nothing =
    throw new NoSuchElementException(
      s"no such namespace: ${ns.mkString(".")}")

  private def describeNamespace(repo: GraftRepo,
      ns: Seq[String]): ObjectNode = {
    val props = mapper.createObjectNode()
    ns match {
      case Seq(ref) if repo.branchExists(ref) =>
        props.put("graft.kind", "branch")
        props.put("graft.head", repo.headCommit(ref).id)
      case Seq(ref) if repo.tagExists(ref) =>
        props.put("graft.kind", "tag")
      case ref +: dirs if refNames(repo).contains(ref) && dirs.nonEmpty &&
        // existence = one table-key SEEK under dirs/ (O(log chunks) on
        // a segmented map, replacing the r13 full-key walk) OR a
        // committed namespace at/under dirs (small map by construction)
        (hasKeyUnder(repo.resolve(ref), dirs) ||
          repo.resolve(ref).namespaces.keys.map(_.split('/').toSeq)
            .exists(k => k.length >= dirs.length && k.startsWith(dirs))) =>
        // committed db-namespace properties (createNamespace /
        // updateNamespaceProps) surface in GetNamespaceResponse — the
        // route engines read schema properties through
        repo.resolve(ref).namespaces.getOrElse(dirs.mkString("/"), Map.empty)
          .foreach { case (k, v) => props.put(k, v) }
      case _ => throwNoNs(ns)
    }
    val o = mapper.createObjectNode()
    val a = o.putArray("namespace"); ns.foreach(a.add)
    o.set[ObjectNode]("properties", props)
    o
  }

  private def listTables(repo: GraftRepo, ns: Seq[String],
      rawQuery: Option[String]): ObjectNode =
    ns match {
      case ref +: dirs if refNames(repo).contains(ref) =>
        val o = mapper.createObjectNode()
        val arr = o.putArray("identifiers")
        val tables = repo.resolve(ref).tables
        // namespace children are the contiguous `prefix`-keyed range of
        // the SORTED key space ("/" never occurs inside a segment), so
        // a page seeks to max(token, prefix) and stops at the range end
        // — on a tree-segmented map this loads O(page) chunks, never
        // the whole 100k-table map (Trees.LazyTableMap.iteratorFrom);
        // nested-namespace keys inside the range are skipped, not
        // terminal
        val prefix = if (dirs.isEmpty) "" else dirs.mkString("/") + "/"
        def keysFrom(after: Option[String]): Iterator[String] = {
          // no table key ever EQUALS the prefix (names are non-empty),
          // so strictly-after the prefix is "from the range start"
          val seek = Some(Seq(after.getOrElse(""), prefix).max)
            .filter(_.nonEmpty)
          val sorted = tables match {
            case t: Trees.LazyTableMap => t.iteratorFrom(seek).map(_._1)
            case t =>
              val it = t.keysIterator.toSeq.sorted.iterator
              seek.fold(it)(a => it.dropWhile(_ <= a))
          }
          sorted.takeWhile(_.startsWith(prefix))
            .filter(_.count(_ == '/') == dirs.length)
        }
        val (page, next) = paginateFrom(rawQuery)(keysFrom)(identity)
        page.foreach { k =>
          val id = arr.addObject()
          val a = id.putArray("namespace"); ns.foreach(a.add)
          id.put("name", k.split('/').last)
        }
        next.foreach(o.put("next-page-token", _))
        o
      case _ => throwNoNs(ns)
    }

  /** `(ref, graft table key)` for an identifier, or NoSuchElement. */
  private def resolveKey(repo: GraftRepo, ns: Seq[String],
      name: String): (String, String) = ns match {
    case ref +: dirs if dirs.nonEmpty =>
      val key = (dirs :+ name).mkString("/")
      if (!refNames(repo).contains(ref) ||
        !repo.resolve(ref).tables.contains(key))
        throw new NoSuchElementException(s"no such table: $key @ $ref")
      (ref, key)
    case _ => throw new NoSuchElementException(
      s"no such table: ${(ns :+ name).mkString(".")}")
  }

  /** Repo-relative data-plane dir writers stage (and commits register)
    * data files for a REST-served table in. */
  private def stageRel(ref: String, key: String): String =
    s"data/rest/$ref/$key"

  /** The current metadata file for `(ref, key)` — re-exported at the
    * next version iff the graft snapshot moved (or a writable server is
    * serving metadata that predates the `write.data.path` stamp).
    */
  private def serve(repo: GraftRepo, prefix: Option[String],
      ref: String, key: String): Path = {
    val dest = prefix.fold(exportRoot)(exportRoot.resolve)
      .resolve(ref).resolve(key)
    val lock = exportLocks.computeIfAbsent(dest.toString, _ => new Object)
    lock.synchronized {
      val want = repo.resolve(ref).tables(key)
      val stageProps =
        if (!writable || !repo.branchExists(ref)) Map.empty[String, String]
        else Map("write.data.path" ->
          repo.dataLocation(stageRel(ref, key)).stripSuffix("/"))
      val v = IcebergSync.latestVersion(dest)
      val current = if (v == 0) None else scala.util.Try {
        val props = mapper.readTree(Files.readString(
          dest.resolve(s"metadata/v$v.metadata.json"))).get("properties")
        props.get("graft.source-snapshot").asText() == want &&
          // the served refs map bakes tag state in — a tag create/drop
          // must re-export even though the data snapshot is unchanged
          Option(props.get("graft.source-tags"))
            .exists(_.asText() == repo.tagSignature) &&
          stageProps.forall { case (k, vv) =>
            Option(props.get(k)).exists(_.asText() == vv)
          }
      }.toOption.filter(identity)
      if (current.isDefined) dest.resolve(s"metadata/v$v.metadata.json")
      else IcebergExport.export(repo, ref, key, dest, spark,
        maxSnapshots, v + 1, formatVersion, stageProps)
    }
  }

  private def loadResult(metaPath: Path): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("metadata-location", metaPath.toString)
    o.set[ObjectNode]("metadata",
      mapper.readTree(Files.readString(metaPath)).asInstanceOf[ObjectNode])
    o.set[ObjectNode]("config", mapper.createObjectNode())
    o
  }

  private def loadTable(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], name: String): ObjectNode = {
    val (ref, key) = resolveKey(repo, ns, name)
    loadResult(serve(repo, prefix, ref, key))
  }

  // ---- write path (writable = true) ---------------------------------------

  /** CreateNamespaceRequest: 1 level creates a BRANCH (zero-copy, from
    * `properties.from` or main); deeper levels commit a db namespace on
    * the branch.
    */
  private def createNamespace(repo: GraftRepo,
      req: com.fasterxml.jackson.databind.JsonNode): ObjectNode = {
    val ns = Option(req.get("namespace")).map(_.elements().asScala
      .map(_.asText()).toSeq).getOrElse(Nil)
    val props = Option(req.get("properties")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    ns match {
      case Seq() => throw new IllegalArgumentException("empty namespace")
      case Seq(b) =>
        if (refNames(repo).contains(b))
          throw new RestConflict("AlreadyExistsException",
            s"namespace (ref) already exists: $b")
        repo.createBranch(b, props.getOrElse("from", "main"))
      case ref +: dirs =>
        if (!repo.branchExists(ref)) throw new IllegalArgumentException(
          if (repo.tagExists(ref)) s"namespaces commit to a branch; $ref is a tag"
          else s"no such branch: $ref")
        val db = dirs.mkString("/")
        repo.commitRetry(ref, s"rest: create namespace $db") { base =>
          // validate against the REBASED base the CAS publishes, never a
          // fresh head re-resolve (they differ under concurrent commits)
          if (base.namespaces.contains(db) ||
            base.tables.keys.exists(k => k.split('/').startsWith(dirs)))
            throw new RestConflict("AlreadyExistsException",
              s"namespace already exists: ${ns.mkString(".")}")
          (base.tables, base.namespaces + (db -> (props - "from")))
        }
    }
    val o = mapper.createObjectNode()
    val a = o.putArray("namespace"); ns.foreach(a.add)
    val p = o.putObject("properties")
    props.foreach { case (k, v) => p.put(k, v) }
    o
  }

  /** CreateTableRequest: an empty graft table from the posted Iceberg
    * schema (+ identity/bucket/truncate/temporal partition spec).
    * `stage-create: true` answers with STAGED metadata — nothing
    * commits to the branch, nothing is written anywhere: the response
    * (schema, spec, location, `write.data.path`) is all an engine
    * needs to write the CTAS data; the table materializes atomically
    * when the engine posts the staged commit (requirement
    * `assert-create` — [[stageCreate]]). A stage that is never
    * committed leaves NOTHING behind.
    */
  private def createTable(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], req: com.fasterxml.jackson.databind.JsonNode)
      : ObjectNode = {
    val (ref, dirs) = ns match {
      case r +: ds if ds.nonEmpty => (r, ds)
      case _ => throw new IllegalArgumentException(
        s"tables live under [ref, db...]: ${ns.mkString(".")}")
    }
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      if (repo.tagExists(ref)) s"tables commit to a branch; $ref is a tag"
      else s"no such branch: $ref")
    val name = Option(req.get("name")).map(_.asText()).getOrElse(
      throw new IllegalArgumentException("create carries no table name"))
    val key = (dirs :+ name).mkString("/")
    val schemaNode = Option(req.get("schema")).getOrElse(
      throw new IllegalArgumentException("create carries no schema"))
    val schema = IcebergImport.structOf(schemaNode)
    val spec = Option(req.get("partition-spec"))
      .map(partitionSpecOf(_, idToNameOf(schemaNode))).getOrElse(Nil)
    TableOps.validateSpec(schema, spec)
    val props = Option(req.get("properties")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    if (Option(req.get("stage-create")).exists(_.asBoolean(false))) {
      if (repo.resolve(ref).tables.contains(key))
        throw new RestConflict("AlreadyExistsException",
          s"table already exists: $key @ $ref")
      return stagedCreateResult(repo, prefix, ref, key, schema, spec, props)
    }
    repo.commitRetry(ref, s"rest: create table $key") { base =>
      if (base.tables.contains(key))
        throw new RestConflict("AlreadyExistsException",
          s"table already exists: $key @ $ref")
      val snap = repo.writeSnapshot(key, schema.json, Nil,
        if (spec.isEmpty) None else Some(spec), None,
        if (props.isEmpty) None else Some(props))
      (base.tables + (key -> snap.id),
        if (base.namespaces.contains(dirs.mkString("/"))) base.namespaces
        else base.namespaces + (dirs.mkString("/") -> Map.empty[String, String]))
    }
    loadResult(serve(repo, prefix, ref, key))
  }

  /** The staged-create LoadTableResult: snapshot-less Iceberg metadata
    * built IN MEMORY from the posted schema/spec/properties — no
    * branch commit, no file written, so an abandoned stage leaves
    * nothing to clean. Deliberately has NO `metadata-location` (the
    * spec's marker that the metadata is staged, not committed); the
    * served `location` and `write.data.path` point where a compliant
    * engine stages the CTAS data files, which the staged commit
    * ([[stageCreate]]) then registers zero-copy.
    */
  private def stagedCreateResult(repo: GraftRepo, prefix: Option[String],
      ref: String, key: String,
      schema: org.apache.spark.sql.types.StructType,
      spec: Seq[PartitionField], props: Map[String, String]): ObjectNode = {
    val destRoot = tableRoot(prefix, ref, key)
    val schemaNode = mapper.readTree(
      IcebergExport.icebergSchemaJson(schema)).asInstanceOf[ObjectNode]
    schemaNode.put("schema-id", 0)
    val nameToId = schemaNode.get("fields").elements().asScala
      .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
    val meta = mapper.createObjectNode()
    meta.put("format-version", formatVersion)
    meta.put("table-uuid", java.util.UUID.randomUUID().toString)
    meta.put("location", destRoot.toString)
    meta.put("last-sequence-number", 0)
    meta.put("last-updated-ms", System.currentTimeMillis())
    meta.put("last-column-id", IcebergExport.lastColumnId(schema))
    meta.put("current-schema-id", 0)
    meta.set[ObjectNode]("schemas", mapper.createArrayNode().add(schemaNode))
    val specFields = mapper.createArrayNode()
    spec.zipWithIndex.foreach { case (pf, i) =>
      val f = mapper.createObjectNode()
      f.put("name", pf.name)
      f.put("transform", IcebergExport.icebergTransform(pf))
      f.put("source-id", nameToId(pf.source))
      f.put("field-id", 1000 + i)
      specFields.add(f)
    }
    val spec0 = mapper.createObjectNode()
    spec0.put("spec-id", 0)
    spec0.set[ObjectNode]("fields", specFields)
    meta.set[ObjectNode]("partition-specs",
      mapper.createArrayNode().add(spec0))
    meta.put("default-spec-id", 0)
    meta.put("last-partition-id", 999 + spec.size)
    val so = mapper.createObjectNode()
    so.put("order-id", 0)
    so.set[ObjectNode]("fields", mapper.createArrayNode())
    meta.set[ObjectNode]("sort-orders", mapper.createArrayNode().add(so))
    meta.put("default-sort-order-id", 0)
    meta.put("current-snapshot-id", -1L)
    meta.set[ObjectNode]("snapshots", mapper.createArrayNode())
    meta.set[ObjectNode]("snapshot-log", mapper.createArrayNode())
    meta.set[ObjectNode]("metadata-log", mapper.createArrayNode())
    meta.set[ObjectNode]("refs", mapper.createObjectNode())
    val pr = meta.putObject("properties")
    props.foreach { case (k, v) => pr.put(k, v) }
    pr.put("write.data.path",
      repo.dataLocation(stageRel(ref, key)).stripSuffix("/"))
    pr.put("graft.rest.staged", "true")
    val o = mapper.createObjectNode()
    o.set[ObjectNode]("metadata", meta)
    o.set[ObjectNode]("config", mapper.createObjectNode())
    o
  }

  /** One posted Iceberg partition field → graft [[PartitionField]]. */
  private def partitionFieldOf(f: com.fasterxml.jackson.databind.JsonNode,
      idToName: Map[Int, String]): PartitionField = {
    val source = idToName.getOrElse(Option(f.get("source-id"))
      .map(_.asInt()).getOrElse(throw new IllegalArgumentException(
        "partition field is missing 'source-id'")),
      throw new IllegalArgumentException(
        s"partition source-id ${f.get("source-id")} not in schema"))
    val name = Option(f.get("name")).map(_.asText()).getOrElse(source)
    val BucketRe = """bucket\[(\d+)\]""".r
    val TruncRe = """truncate\[(\d+)\]""".r
    text(f, "transform") match {
      case "identity" => PartitionField(name, "identity", source)
      case BucketRe(n) => PartitionField(name, "bucket", source, n.toInt)
      case TruncRe(w) => PartitionField(name, "truncate", source, w.toInt)
      case "year" => PartitionField(name, "years", source)
      case "month" => PartitionField(name, "months", source)
      case "day" => PartitionField(name, "days", source)
      case "hour" => PartitionField(name, "hours", source)
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform: $other")
    }
  }

  // ---- the commit pipeline: parse → validate → stage → publish ----------

  /** `POST .../tables/{t}`: a one-member transaction, answered with the
    * table's refreshed LoadTableResult. */
  private def commitTable(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], name: String, req: JsonNode): ObjectNode = {
    val c = parseChange(repo, ns, name, req)
    commitChanges(repo, prefix, transaction = false, Seq(c))
    loadResult(serve(repo, prefix, c.ref, c.key))
  }

  /** `POST /v1/transactions/commit`: every table-change lands in ONE
    * graft commit, so fact + dimension appends publish together or not
    * at all — the repo-level transactionality the reference inherits
    * from lakeFS, which per-table Iceberg catalogs cannot give. */
  private def commitTransaction(repo: GraftRepo, prefix: Option[String],
      req: JsonNode): Unit = {
    val changes = Option(req.get("table-changes")).toSeq
      .flatMap(_.elements().asScala).map { ch =>
        val ident = Option(ch.get("identifier")).getOrElse(
          throw new IllegalArgumentException(
            "table-change carries no identifier"))
        parseChange(repo, Option(ident.get("namespace")).toSeq
          .flatMap(_.elements().asScala).map(_.asText()),
          text(ident, "name"), ch)
      }
    if (changes.isEmpty) throw new IllegalArgumentException(
      "transaction carries no table-changes")
    commitChanges(repo, prefix, transaction = true, changes)
  }

  /** The integer-field requirements iceberg-core's UpdateRequirements
    * posts: type → (posted field, served field, served default, what
    * the conflict message calls it). graft serves sort order 0 always
    * (orders are advisory); the spec pair rides every
    * partition-evolution commit. */
  private val fieldRequirements = Map(
    "assert-current-schema-id" ->
      ("current-schema-id", "current-schema-id", 0, "current schema"),
    "assert-last-assigned-field-id" -> ("last-assigned-field-id",
      "last-column-id", 0, "last assigned field id"),
    "assert-default-sort-order-id" -> ("default-sort-order-id",
      "default-sort-order-id", 0, "default sort order"),
    "assert-default-spec-id" ->
      ("default-spec-id", "default-spec-id", 0, "default partition spec"),
    "assert-last-assigned-partition-id" -> ("last-assigned-partition-id",
      "last-partition-id", 999, "last assigned partition field id"))

  private def requirementOf(r: JsonNode): Requirement = text(r, "type") match {
    case "assert-create" => AssertCreate
    case "assert-table-uuid" => AssertUuid(text(r, "uuid"))
    case "assert-ref-snapshot-id" => AssertRef(
      Option(r.get("ref")).map(_.asText()).getOrElse("main"),
      Option(r.get("snapshot-id")).filterNot(_.isNull).map(_.asLong()))
    case t if fieldRequirements.contains(t) =>
      val (posted, served, default, what) = fieldRequirements(t)
      AssertField(served, default, what, Option(r.get(posted))
        .map(_.asInt()).getOrElse(throw new IllegalArgumentException(
          s"$t carries no $posted")))
    case other => throw new UnsupportedOperationException(
      s"unsupported commit requirement: $other")
  }

  /** Parse the change posted for table `ns`.`name` and resolve its
    * target: 404 for a missing ref or table (unless the change asserts
    * create), 409 for a create whose name is taken. */
  private def parseChange(repo: GraftRepo, ns: Seq[String], name: String,
      ch: JsonNode): Change = {
    val (ref, dirs) = ns match {
      case r +: ds if ds.nonEmpty => (r, ds)
      case _ => throw new NoSuchElementException(
        s"no such table: ${(ns :+ name).mkString(".")}")
    }
    val key = (dirs :+ name).mkString("/")
    if (!refNames(repo).contains(ref))
      throw new NoSuchElementException(s"no such table: $key @ $ref")
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      s"commits target a branch; $ref is a tag")
    val reqs = Option(ch.get("requirements")).toSeq
      .flatMap(_.elements().asScala).map(requirementOf)
    val create = reqs.contains(AssertCreate)
    val exists = repo.resolve(ref).tables.contains(key)
    // definitive, not retryable: the CTAS lost its race (or the name was
    // taken all along) — the same answer the in-commit race gives
    if (create && exists) throw new RestConflict("AlreadyExistsException",
      s"table already exists: $key @ $ref")
    if (!create && !exists)
      throw new NoSuchElementException(s"no such table: $key @ $ref")
    Option(ch.get("updates")).toSeq.flatMap(_.elements().asScala)
      .foldLeft(Change(ref, dirs, key, create, reqs))(withUpdate)
  }

  /** graft.* table properties are engine state (MoR tombstones, commit
    * sequence, staging markers): a REST client rewriting them could
    * resurrect deleted rows — same guard as native ALTER's SetProperty. */
  private def guardProp(k: String): String = {
    if (k.startsWith("graft."))
      throw new UnsupportedOperationException(
        s"$k is engine-managed graft state; not settable over REST")
    k
  }

  /** Fold one posted metadata update into `c`: the whole REST update
    * vocabulary (class doc: WRITE PATH). */
  private def withUpdate(c: Change, u: JsonNode): Change =
    text(u, "action") match {
      case "add-snapshot" =>
        if (c.snapshot.isDefined) throw new UnsupportedOperationException(
          "one add-snapshot per commit")
        c.copy(snapshot = Some(Option(u.get("snapshot")).getOrElse(
          throw new IllegalArgumentException(
            "add-snapshot carries no snapshot"))))
      case "set-snapshot-ref" =>
        val rn = Option(u.get("ref-name")).map(_.asText()).getOrElse("main")
        val sid = Option(u.get("snapshot-id")).filterNot(_.isNull)
          .map(_.asLong())
        if (rn == "main") c.copy(mainRef = sid)
        else if (Option(u.get("type")).map(_.asText()).contains("tag"))
          // Spark's ALTER TABLE ... CREATE TAG (ManageSnapshots.createTag)
          c.copy(tagCreate = Some(rn -> sid.getOrElse(
            throw new IllegalArgumentException(
              s"set-snapshot-ref tag $rn carries no snapshot-id"))))
        else throw new UnsupportedOperationException(
          s"named BRANCH refs are repo-level in graft — create a " +
            s"graft branch and address it as its own namespace " +
            s"(ref $rn); only TAG refs can be written per-table")
      case "remove-snapshot-ref" =>
        val rn = text(u, "ref-name")
        if (rn == "main") throw new IllegalArgumentException(
          "cannot remove the main ref")
        c.copy(tagRemove = Some(rn))
      case "set-properties" =>
        c.copy(setProps = c.setProps ++ Option(u.get("updates")).toSeq
          .flatMap(_.fields().asScala)
          .map(e => guardProp(e.getKey) -> e.getValue.asText()))
      case "remove-properties" =>
        c.copy(removeProps = c.removeProps ++ Option(u.get("removals"))
          .toSeq.flatMap(_.elements().asScala)
          .map(n => guardProp(n.asText())))
      case "add-schema" =>
        if (c.schema.isDefined) throw new UnsupportedOperationException(
          "one add-schema per commit")
        c.copy(schema = Some(Option(u.get("schema")).getOrElse(
          throw new IllegalArgumentException("add-schema carries no schema"))))
      case "set-current-schema" =>
        c.copy(currentSchema =
          Some(Option(u.get("schema-id")).map(_.asInt()).getOrElse(-1)))
      case "add-partition-spec" =>
        if (c.spec.isDefined) throw new UnsupportedOperationException(
          "one add-partition-spec per commit")
        c.copy(spec = Option(u.get("spec")).orElse(Some(u)))
      case "set-default-spec" => c.copy(defaultSpec = true)
      // a staged create's location: graft assigns its own
      case "set-location" => c.copy(location = true)
      // upgrading to the version ALREADY SERVED is a validated no-op
      // (iceberg-core posts it defensively); so is assigning the served
      // uuid — both are checked against the served metadata
      case "upgrade-format-version" =>
        c.copy(formatVersion = Some(
          Option(u.get("format-version")).map(_.asInt()).getOrElse(
            throw new IllegalArgumentException(
              "upgrade-format-version carries no format-version"))))
      case "assign-uuid" =>
        c.copy(uuid = Some(text(u, "uuid")))
      // graft tables have no sort orders: an engine's declared order is
      // advisory (write-side clustering). ANALYZE TABLE's Puffin
      // statistics pointers are discarded (graft computes its own stats
      // — snapshot metadata + footer NDV). expire_snapshots' remove-
      // snapshots defers to graft's own expire/vacuum (the served
      // history is maxSnapshots-bounded anyway). Failing an engine's
      // maintenance job over advisory metadata would be worse than not
      // serving it back.
      case "add-sort-order" | "set-default-sort-order" | "set-statistics" |
           "remove-statistics" | "set-partition-statistics" |
           "remove-partition-statistics" | "remove-snapshots" =>
        c.copy(advisory = true)
      case other => throw new UnsupportedOperationException(
        s"unsupported metadata update over REST: $other (supported: " +
          "add-snapshot + set-snapshot-ref + set-properties + " +
          "remove-properties + add-schema + set-current-schema + " +
          "add-partition-spec + set-default-spec + advisory sort " +
          "orders / statistics / remove-snapshots)")
    }

  /** Validate every change against its served state, stage them all,
    * then publish in ONE graft commit: every member lands or none does,
    * and any member's stale base 409s the whole commit. All changes
    * target one branch (a graft commit is per-branch) and name each
    * table once. Rollbacks, replaces, tag writes and partition-spec
    * changes must be a commit's only member. Validation and staging run
    * on up to 3 driver threads ([[TableOps.stageConcurrently]]): each
    * member touches its own table and `serve` locks per table; the
    * first failing member's error wins, and siblings' already-staged
    * files are orphans until vacuum. `transaction` marks the route that
    * answers without metadata, the one that records an engine's schema
    * ids ([[IcebergRestServer.SchemaIdProp]]).
    */
  private def commitChanges(repo: GraftRepo, prefix: Option[String],
      transaction: Boolean, changes: Seq[Change]): Unit = {
    val refs = changes.map(_.ref).distinct
    if (refs.size != 1) throw new IllegalArgumentException(
      s"a transaction commits to ONE branch; got ${refs.mkString(", ")} " +
        "— post per-branch transactions")
    val dupKeys = changes.groupBy(_.key).filter(_._2.size > 1).keys
    if (dupKeys.nonEmpty) throw new IllegalArgumentException(
      s"a transaction names each table once; duplicated: " +
        dupKeys.mkString(", "))
    val members = TableOps.stageConcurrently(changes)(
      validate(repo, prefix, transaction, _))
    if (members.size > 1) members.flatMap(_.only).headOption.foreach { k =>
      throw new UnsupportedOperationException(
        s"$k is its own commit over REST: post it as the only member " +
          "of a transaction")
    }
    val staged = TableOps.stageConcurrently(members)(_.stage())
    if (staged.exists(_.writes))
      repo.commitRetry(refs.head,
        if (staged.size == 1) staged.head.message
        else s"rest: transaction (${staged.map(_.key).mkString(", ")})",
        marker = staged.flatMap(_.marker).headOption) { base =>
        (staged.foldLeft(base.tables)((acc, st) => st.fold(base, acc)),
          staged.flatMap(_.namespace).foldLeft(base.namespaces) { (acc, d) =>
            if (acc.contains(d)) acc else acc + (d -> Map.empty[String, String])
          })
      }
  }

  /** Check a change against the served metadata — requirements (409),
    * then the update shape (400) — and decide its member kind. */
  private def validate(repo: GraftRepo, prefix: Option[String],
      transaction: Boolean, c: Change): Member = {
    if (c.create) {
      if (c.reqs.exists(_ != AssertCreate))
        throw new UnsupportedOperationException(
          "a staged create carries no requirement but assert-create")
      if (c.tagCreate.isDefined || c.tagRemove.isDefined)
        throw new UnsupportedOperationException(
          "a staged create writes no tag refs")
      return Member(None, () => stageCreate(repo, prefix, c))
    }
    val path = serve(repo, prefix, c.ref, c.key)
    val meta = mapper.readTree(Files.readString(path))
    val sv = Served(c.ref, c.key, path, meta,
      meta.get("properties").get("graft.source-snapshot").asText(),
      Option(meta.get("current-snapshot-id")).map(_.asLong())
        .filter(_ != -1L),
      Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0))
    c.reqs.foreach {
      case AssertUuid(want) =>
        val have = meta.get("table-uuid").asText()
        if (want != have) throw new RestConflict("CommitFailedException",
          s"table uuid of ${c.key} changed: expected $want, found $have")
      case AssertRef(rn, want) =>
        // a NAMED ref (iceberg-core posts snapshot-id null on createTag:
        // "the ref must not exist yet") validates against the served
        // refs map, which bakes graft tag state in
        val have = if (rn == "main") sv.snapId
          else Option(meta.get("refs")).flatMap(rs => Option(rs.get(rn)))
            .flatMap(n => Option(n.get("snapshot-id"))).map(_.asLong())
        if (want != have) throw new RestConflict("CommitFailedException",
          s"ref $rn of ${c.key} moved: expected " +
            s"${want.getOrElse("<none>")}, now at ${have.getOrElse("<none>")}")
      case AssertField(field, default, what, want) =>
        val have = Option(meta.get(field)).map(_.asInt()).getOrElse(default)
        if (want != have) throw new RestConflict("CommitFailedException",
          s"$what of ${c.key} changed: expected $want, found $have")
      case AssertCreate => () // resolved by parseChange
    }
    c.formatVersion.foreach { want =>
      val have = Option(meta.get("format-version")).map(_.asInt())
        .getOrElse(2)
      if (want != have) throw new UnsupportedOperationException(
        s"this server serves format-version $have; start the REST " +
          s"server with formatVersion=$want to change it (a graft table " +
          "has no per-table format version)")
    }
    c.uuid.foreach { want =>
      val have = Option(meta.get("table-uuid")).map(_.asText()).getOrElse("")
      if (want != have) throw new IllegalArgumentException(
        s"assign-uuid $want does not match the table's identity $have")
    }
    if (c.location) throw new UnsupportedOperationException(
      "unsupported metadata update over REST: set-location (graft " +
        "assigns table locations)")
    // a schema id the engine may hold for the current schema: the served
    // one, one this commit adds, or the one a transaction recorded for it
    val addedSchemaId =
      c.schema.flatMap(s => Option(s.get("schema-id")).map(_.asInt()))
    lazy val cur = repo.snapshot(sv.graftSnap)
    def knownSchema(sid: Int): Boolean =
      sid == sv.schemaId || addedSchemaId.contains(sid) ||
        cur.properties.get(SchemaIdProp)
          .contains(schemaIdRecord(sid, cur.schemaJson))
    // set-current-schema must point at a known schema (-1 = "last
    // added", the form engines post)
    c.currentSchema.foreach { sid =>
      if (sid != -1 && !knownSchema(sid))
        throw new IllegalArgumentException(
          s"set-current-schema references schema-id $sid, which this " +
            "commit does not add")
    }
    // the posted schema lowers onto graft TableChanges by FIELD ID diff
    // against the served schema (field ids are the identity Iceberg
    // evolution preserves)
    val schemaChanges =
      c.schema.map(schemaChangesOf(currentSchemaOf(sv), _)).getOrElse(Nil)
    // the fold pins its base to the served snapshot, so the schema it
    // will write is known here
    lazy val evolved =
      if (schemaChanges.isEmpty || !transaction) c
      else c.copy(setProps = c.setProps ++ addedSchemaId.map(id =>
        SchemaIdProp -> schemaIdRecord(id,
          SchemaEvolution.evolve(cur, schemaChanges).schema.json)))
    // graft stores exactly one current spec, so switching back to a
    // previously-added spec id is not representable — ignoring it would
    // let an engine believe a spec flip it never got
    if (c.defaultSpec && c.spec.isEmpty)
      throw new UnsupportedOperationException(
        "set-default-spec without add-partition-spec: graft keeps ONE " +
          "current partition spec — post the full add-partition-spec " +
          "for the layout you want")
    if (c.spec.isDefined) {
      if (c.snapshot.isDefined || c.schema.isDefined)
        throw new UnsupportedOperationException(
          "a partition-spec change is its own commit over REST " +
            "(no add-snapshot / add-schema alongside)")
      return Member(Some("a partition-spec change"),
        () => stageSpec(repo, c, sv))
    }
    // a tag write alongside data/schema updates would entangle the tag
    // with an uncommitted snapshot
    if (c.tagCreate.isDefined || c.tagRemove.isDefined) {
      if (c.snapshot.isDefined || c.schema.isDefined ||
        c.mainRef.isDefined || c.props)
        throw new UnsupportedOperationException(
          "tag ref writes are their own commit over REST — post other " +
            "updates separately")
      return Member(Some("a tag ref write"), () => stageTag(repo, c))
    }
    c.snapshot match {
      case None if c.mainRef.exists(id => !sv.snapId.contains(id)) =>
        if (c.schema.isDefined || c.props)
          throw new UnsupportedOperationException(
            "rollback (set-snapshot-ref to a prior snapshot) is its own " +
              "commit over REST — post schema and property updates " +
              "separately")
        Member(Some("a rollback"),
          () => stageRollback(repo, c, sv, c.mainRef.get))
      case None if c.schema.isDefined || c.props =>
        // a schema/property update (ALTER TABLE over REST)
        Member(None, () => Staged(c.key, s"rest: update schema ${c.key}",
          writes = true,
          memberFold(repo, evolved, sv, Nil, None, Nil, schemaChanges)))
      case None =>
        // advisory updates, the served format version or uuid, a
        // set-snapshot-ref to the current snapshot: a validated no-op.
        // Anything else empty is a client bug.
        if (!c.noOps) throw new IllegalArgumentException(
          "commit carries no updates")
        Member(None, () => Staged(c.key, "", writes = false,
          (base, acc) => { sv.pin(base); acc }))
      case Some(snap) =>
        // a set-snapshot-ref riding an add-snapshot must name the ADDED
        // snapshot (or the served current): a mismatched target would
        // land the posted snapshot while the engine believes the ref
        // moved somewhere else
        val addedId = Option(snap.get("snapshot-id")).map(_.asLong())
        c.mainRef.foreach { tgt =>
          if (!addedId.contains(tgt) && !sv.snapId.contains(tgt))
            throw new IllegalArgumentException(
              s"set-snapshot-ref names snapshot $tgt, but this commit " +
                s"adds ${addedId.getOrElse("<none>")} — post a rollback " +
                "(bare set-snapshot-ref) or a consistent commit")
        }
        val op = Option(snap.get("summary")).flatMap(s =>
          Option(s.get("operation"))).map(_.asText()).getOrElse("append")
        if (!Set("append", "overwrite", "delete", "replace")(op))
          throw new UnsupportedOperationException(
            s"unsupported commit operation over REST: '$op' (accepted: " +
              "append, overwrite, delete, replace)")
        // a snapshot written under the schema this same commit adds is
        // fine; any OTHER unknown schema-id is a client bug
        Option(snap.get("schema-id")).map(_.asInt()).foreach { sid =>
          if (!knownSchema(sid))
            throw new IllegalArgumentException(
              s"snapshot schema-id $sid is not the served " +
                s"current-schema-id ${sv.schemaId}, a schema this commit " +
                "adds, or the id a transaction recorded for the current " +
                "schema")
        }
        if (schemaChanges.nonEmpty && op != "append")
          throw new UnsupportedOperationException(
            "schema changes combine only with append commits over REST " +
              "(post the schema update on its own, then the rewrite)")
        Member(if (op == "replace") Some("a replace (compaction)") else None,
          () => stageData(repo, prefix, evolved, sv, op, schemaChanges))
    }
  }

  /** The served current schema node. */
  private def currentSchemaOf(sv: Served): JsonNode =
    Option(sv.meta.get("schemas")).map(_.elements().asScala.toSeq)
      .getOrElse(Nil)
      .find(s => Option(s.get("schema-id")).exists(_.asInt() == sv.schemaId))
      .getOrElse(throw new IllegalStateException(
        s"served metadata has no schema ${sv.schemaId}"))

  /** field id → name of a posted Iceberg schema node. */
  private def idToNameOf(schema: JsonNode): Map[Int, String] =
    Option(schema.get("fields")).toSeq.flatMap(_.elements().asScala)
      .map(fieldIdName).toMap

  /** A posted partition spec (spec object or bare field list) → graft
    * partition fields. */
  private def partitionSpecOf(n: JsonNode,
      idToName: Map[Int, String]): Seq[PartitionField] =
    Option(n.get("fields")).getOrElse(n).elements().asScala
      .map(partitionFieldOf(_, idToName)).toSeq

  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    spark.map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** The served location of `(ref, key)`, where a writer that ignores
    * `write.data.path` stages its files. */
  private def tableRoot(prefix: Option[String], ref: String,
      key: String): Path =
    prefix.fold(exportRoot)(exportRoot.resolve)
      .resolve(ref).resolve(key).toAbsolutePath.normalize

  private def dataRel(repo: GraftRepo, loc: String): String =
    repo.dataIO.relOf(loc).getOrElse(throw new IllegalStateException(
      s"base data file outside the repo data plane: $loc"))

  /** The posted snapshot's data and delete files. An unreadable or
    * garbage manifest list is the CLIENT's error — the posted location
    * either does not exist or is not avro — never a
    * commit-state-unknown 500. */
  private def postedFiles(snap: JsonNode, formatVersion: Int)
      : (Seq[IcebergImport.DataFile], Seq[IcebergImport.DeleteFile]) =
    try IcebergImport.filesOfManifestList(text(snap, "manifest-list"),
      formatVersion)
    catch {
      case e @ (_: java.io.IOException |
                _: org.apache.avro.AvroRuntimeException) =>
        throw new IllegalArgumentException(
          s"posted manifest-list is unreadable: ${e.getMessage}")
    }

  /** The fold of a member lowered by [[memberSnapshot]]. */
  private def memberFold(repo: GraftRepo, c: Change, sv: Served,
      entries: Seq[FileEntry],
      eqFilter: Option[org.apache.spark.sql.sources.Filter],
      dropRels: Seq[String], schemaChanges: Seq[TableChange])
      : (Commit, Map[String, String]) => Map[String, String] = {
    (base, acc) =>
      sv.pin(base)
      acc + (c.key -> memberSnapshot(repo, c.key,
        repo.snapshot(base.tables(c.key)), entries, eqFilter, dropRels,
        schemaChanges, c.setProps, c.removeProps).id)
  }

  /** The staged-create publish (`stage-create: true`, then a commit
    * asserting create): schema, partition spec, properties and the first
    * snapshot land as ONE graft commit, so an external engine's CTAS is
    * atomic. Concurrent creators race on the key inside the fold and
    * exactly one wins; an abandoned stage never touched the branch. */
  private def stageCreate(repo: GraftRepo, prefix: Option[String],
      c: Change): Staged = {
    val sNode = c.schema.getOrElse(throw new IllegalArgumentException(
      "staged create commit carries no add-schema"))
    val schema = IcebergImport.structOf(sNode)
    val spec = c.spec.map(partitionSpecOf(_, idToNameOf(sNode))).getOrElse(Nil)
    TableOps.validateSpec(schema, spec)
    // the first snapshot's files (a zero-row CTAS may post none); the
    // engine wrote its manifest list against the staged metadata this
    // server handed out, which serves at `formatVersion`
    val entries = c.snapshot.map { snap =>
      val (data, deletes) = postedFiles(snap, formatVersion)
      if (deletes.nonEmpty) throw new UnsupportedOperationException(
        "a staged create's first snapshot carries delete files")
      ingestEntries(repo, c.ref, c.key, tableRoot(prefix, c.ref, c.key),
        data, schema, Map.empty, spec, hadoopConf)
    }.getOrElse(Nil)
    val props = c.setProps -- c.removeProps ++
      (if (entries.isEmpty) Map.empty else Map(Tombstones.SeqProp -> "1"))
    Staged(c.key, s"rest: create table ${c.key} (staged, " +
      s"${entries.size} files, ${entries.map(_.rows).sum} rows)",
      writes = true, (base, acc) => {
        if (base.tables.contains(c.key) || acc.contains(c.key))
          throw new RestConflict("AlreadyExistsException",
            s"table already exists: ${c.key} @ ${c.ref}")
        val snap = repo.writeSnapshot(c.key, schema.json,
          entries.map(_.copy(seq = Some(1L))),
          if (spec.isEmpty) None else Some(spec), None,
          if (props.isEmpty) None else Some(props))
        acc + (c.key -> snap.id)
      }, namespace = Some(c.dirs.mkString("/")))
  }

  /** Partition-spec evolution (ALTER TABLE ADD PARTITION FIELD over
    * REST), lowered onto graft's forward-only spec swap
    * ([[TableOps.respec]]: old files keep their recorded values,
    * name-reuse rebinds to fresh names). */
  private def stageSpec(repo: GraftRepo, c: Change, sv: Served): Staged = {
    val spec = partitionSpecOf(c.spec.get, idToNameOf(currentSchemaOf(sv)))
    Staged(c.key, s"set partition spec on ${c.key}", writes = true,
      (base, acc) => {
        sv.pin(base)
        acc + (c.key -> TableOps.respec(repo, c.key,
          repo.snapshot(base.tables(c.key)), spec, c.setProps,
          c.removeProps).id)
      })
  }

  /** TAG ref writes (set-snapshot-ref type=tag / remove-snapshot-ref):
    * Spark's ALTER TABLE ... CREATE/DROP TAG lowers onto graft REPO
    * tags. The created tag pins the newest commit where this table
    * served the named snapshot (for "tag the current state", the head
    * commit); the read side serves it back in every exported table's
    * refs map (an Iceberg tag means "the table's state at the tagged
    * commit", so the repo-level scope is a superset, never a lie —
    * SURVEY §6). Tag state is baked into the serve memo's
    * graft.source-tags signature, so the next serve re-exports with the
    * fresh refs map. */
  private def stageTag(repo: GraftRepo, c: Change): Staged = {
    val created = c.tagCreate.map { case (name, sid) =>
      // newest-first walk over ALL parents (bounded breadth-first),
      // O(distance to target) commit loads — tag creation is
      // control-plane rare, no memo needed. All parents, not just the
      // first: a snapshot reachable only through a merge's SECOND
      // parent is still one an engine observed via the served
      // metadata, so it must be taggable (the first-parent-only walk
      // 400'd it as "not a version"). A path stops at the table's
      // creation commit (table absent → parents not walked).
      val head = repo.resolve(c.ref)
      val seen = scala.collection.mutable.HashSet[String](head.id)
      val queue = scala.collection.mutable.Queue[Commit](head)
      var found: Option[String] = None
      var hops = 0
      while (found.isEmpty && queue.nonEmpty && hops < 100000) {
        val cm = queue.dequeue()
        hops += 1
        cm.tables.get(c.key) match {
          case Some(gid) if IcebergExport.icebergSnapshotId(gid) == sid =>
            found = Some(cm.id)
          case Some(_) =>
            cm.parents.filter(seen.add).foreach(p => queue.enqueue(repo.commit(p)))
          case None => ()
        }
      }
      (name, sid, found.getOrElse(throw new IllegalArgumentException(
        s"set-snapshot-ref tag $name names snapshot $sid, which is " +
          s"not a version of ${c.key} on ${c.ref}")))
    }
    // a tag member is its commit's only member, so staging publishes
    created.foreach { case (name, sid, cid) =>
      if (repo.tagExists(name)) {
        // IDEMPOTENT when the existing tag serves the SAME snapshot
        // for this table (not same-commit: an unrelated commit can
        // move head so a retried create resolves a different commit
        // with the identical table state); a genuinely different
        // target refuses — graft tags are immutable while they live
        val sameState = scala.util.Try(repo.resolve(name)).toOption
          .flatMap(_.tables.get(c.key))
          .exists(g => IcebergExport.icebergSnapshotId(g) == sid)
        if (!sameState)
          throw new RestConflict("AlreadyExistsException",
            s"tag already exists: $name")
      } else repo.createTag(name, cid)
    }
    c.tagRemove.foreach { name =>
      if (!repo.tagExists(name))
        throw new NoSuchElementException(s"no such tag: $name")
      repo.dropTag(name)
    }
    Staged(c.key, "", writes = false, (_, acc) => acc)
  }

  /** Engine ROLLBACK (Spark's rollback_to_snapshot / Iceberg's
    * ManageSnapshots.setCurrentSnapshot): a bare set-snapshot-ref to a
    * PRIOR served snapshot. The exported snapshot id is the stable
    * 64-bit name-UUID of the graft snapshot sha (IcebergExport), so it
    * inverts over the same first-parent history walk the export used —
    * and the rollback is a ZERO-COPY table pointer swap
    * (content-addressed snapshots never moved). */
  private def stageRollback(repo: GraftRepo, c: Change, sv: Served,
      target: Long): Staged = {
    val (ref, key) = (c.ref, c.key)
    def sidOf(gid: String): Long = IcebergExport.icebergSnapshotId(gid)
    // the sid→gid inversion is MEMOIZED per served table keyed by
    // the head commit, and the walk is LAZY: it stops at the
    // requested sid and records the frontier (next unwalked commit),
    // so a rollback loads O(distance to target) commits — never the
    // whole first-parent history of a deep table (one commit load =
    // one RPC on a remote GraftIO backend). A repeat rollback to an
    // indexed id loads ZERO commits; a deeper target resumes from
    // the frontier; new commits above the old head splice onto the
    // cached index (the NEWER walk wins on a sid collision, matching
    // head-first order).
    val targetGid: Option[String] = {
      val headC = repo.resolve(ref)
      val cacheKey = s"${repo.root}\u0000$ref\u0000$key"
      val cached = Option(rollbackSidIndex.get(cacheKey))
      var idx = Map.empty[Long, String]
      var frontierId: Option[String] = Some(headC.id)
      // headC is already loaded — spare the first walk step its RPC
      var preloaded: Option[Commit] = Some(headC)
      // a stale-head cache still splices when the walk reaches its head
      var splice = cached
      cached match {
        case Some((hid, i, f)) if hid == headC.id =>
          idx = i; frontierId = f; splice = None
        case _ => ()
      }
      var hops = 0
      while (!idx.contains(target) && frontierId.isDefined &&
        hops < 100000) {
        splice.filter(_._1 == frontierId.get) match {
          case Some((_, old, oldF)) =>
            idx = old ++ idx
            frontierId = oldF
            splice = None
          case None =>
            val cm = preloaded.filter(_.id == frontierId.get)
              .getOrElse(repo.commit(frontierId.get))
            preloaded = None
            if (!cm.tables.contains(key)) frontierId = None
            else {
              val gid = cm.tables(key)
              val sid = sidOf(gid)
              if (!idx.contains(sid)) idx += (sid -> gid)
              frontierId = cm.parents.headOption
              hops += 1
            }
        }
      }
      rollbackSidIndex.put(cacheKey, (headC.id, idx, frontierId))
      idx.get(target)
    }
    val gid = targetGid.getOrElse(throw new IllegalArgumentException(
      s"set-snapshot-ref names snapshot $target, which is not a " +
        s"version of $key on $ref — nothing to roll back to"))
    val targetSnap = repo.snapshot(gid)
    val head = repo.snapshot(sv.graftSnap)
    // vacuum check: only files the HEAD no longer lists can have been
    // GC'd (vacuum spares everything reachable from a branch head).
    // Segmented tables diff content-addressed manifest refs — files
    // in chunks the head still carries are alive for free, and only
    // the differing chunks load, so the probe is O(changed chunks)
    // metadata + O(their files) stats, never an O(table)
    // materialization or stat storm on a million-file table. (A file
    // in a differing chunk may still be alive under a shifted chunk
    // boundary — its stat is then merely redundant, never wrong.)
    // The probe runs INSIDE the commit fold against the retry
    // base's head (not the pre-commit head), so a ref that moved
    // between probe and publish is re-checked against the base the
    // CAS actually publishes on. RESIDUAL RACE, documented: vacuum
    // never advances the branch ref, so a sweep that starts after
    // the in-closure probe and deletes target-only files before the
    // CAS lands is invisible to commitRetry — the probe shrinks the
    // window from "serve → publish" to "stat → publish" but cannot
    // close it without a repo-level GC/commit mutual exclusion the
    // format does not have (Iceberg proper has the same
    // expire-vs-rollback race). Operationally covered by running
    // vacuum with a generous age threshold and not concurrently
    // with restores, which the age guard's default encodes.
    def requireRestorable(hd: Snapshot): Unit = {
      val missing: Seq[FileEntry] =
        if (hd.manifestRefs.nonEmpty && targetSnap.manifestRefs.nonEmpty) {
          val headChunks = hd.manifestRefs.map(_.path).toSet
          targetSnap.manifestRefs.filterNot(r => headChunks(r.path))
            .flatMap(r => Manifests.load(repo.root, repo.io, r))
            .filterNot(f => repo.dataIO.isFile(f.path))
        } else if (targetSnap.manifestRefs.isEmpty) {
          // inline target: bounded by the inline threshold
          targetSnap.files.filterNot(f => repo.dataIO.isFile(f.path))
        } else {
          // target segmented, head inline (table shrank): the inline
          // head is small — membership-filter against it, stat the rest
          val headLive = hd.files.iterator.map(_.path).toSet
          targetSnap.files.iterator
            .filterNot(f => headLive(f.path))
            .filterNot(f => repo.dataIO.isFile(f.path)).toSeq
        }
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"rollback target of $key references ${missing.size} vacuumed " +
          s"file(s) (e.g. ${missing.head.path}) — not restorable")
    }
    // Iceberg's rollback moves only the ref — schema, spec, mapping
    // and properties stay CURRENT — but a graft snapshot bundles all
    // of them, so a bare pointer swap across ANY metadata evolution
    // would silently revert state Iceberg keeps current. Served
    // history never crosses an evolution (export eligibility checks
    // all of these), so every id the engine can SEE takes the
    // zero-copy swap; a remembered id from before a metadata change
    // lowers onto a FILE-SET REVERT instead (r15): one commit whose
    // snapshot carries the TARGET's live files and MoR tombstone
    // state under the HEAD's schema/spec/mapping/user properties —
    // exactly the Iceberg observable state (rows revert, metadata
    // does not). Old files read under the current schema the same
    // way any post-evolution read does: physical column names are
    // write-stable (renames rebind only the logical name) and graft
    // evolution is metadata-only, so every file the target listed is
    // still readable and prunable under the head metadata. MoR
    // tombstone state (graft.mor.*) comes from the TARGET: delete
    // state legitimately differs per snapshot and reverting it IS
    // the rollback's point. NOTE the one protocol-visible
    // divergence: the reverted state re-exports under a FRESH
    // snapshot id (a new graft snapshot), where Iceberg proper would
    // re-serve the remembered id — a client that re-posts the same
    // rollback hits the already-reverted guard below and gets a
    // validated no-op.
    def userProps(sn: Snapshot): Map[String, String] =
      sn.properties.filterNot(_._1.startsWith("graft.mor."))
    def morProps(sn: Snapshot): Map[String, String] =
      sn.properties.filter(_._1.startsWith("graft.mor."))
    val metadataMatches =
      targetSnap.schemaJson == head.schemaJson &&
      targetSnap.partitionFields == head.partitionFields &&
      targetSnap.nameMapping == head.nameMapping &&
      userProps(targetSnap) == userProps(head)
    // file-set equality: segmented snapshots compare O(chunks) of
    // content-addressed manifest refs (identical lists chunk
    // identically — content-defined cuts), never materializing a
    // million-file list on the driver; inline snapshots compare the
    // lists directly
    val sameFiles =
      if (head.manifestRefs.nonEmpty && targetSnap.manifestRefs.nonEmpty)
        head.manifestRefs.map(_.path) == targetSnap.manifestRefs.map(_.path)
      else if (head.manifestRefs.isEmpty && targetSnap.manifestRefs.isEmpty)
        head.files.map(f => (f.path, f.seqNo)).toSet ==
          targetSnap.files.map(f => (f.path, f.seqNo)).toSet
      else false // one segmented, one inline — sizes differ by design
    if (metadataMatches)
      Staged(key, s"rest: rollback $key to snapshot $target", writes = true,
        (base, acc) => {
          sv.pin(base)
          requireRestorable(repo.snapshot(base.tables(key)))
          acc + (key -> gid)
        })
    else if (sameFiles && morProps(head) == morProps(targetSnap))
      Staged(key, "", writes = false, (_, acc) => acc) // already reverted
    else
      Staged(key, s"rest: rollback $key to snapshot $target " +
        "(file-set revert across a metadata change)", writes = true,
        (base, acc) => {
          sv.pin(base)
          val prior = repo.snapshot(base.tables(key))
          requireRestorable(prior)
          val props = userProps(prior) ++ morProps(targetSnap)
          val ns2 = repo.writeSnapshot(key, prior.schemaJson,
            targetSnap.files, prior.partitionBy, prior.physicalNames,
            if (props.isEmpty) None else Some(props), prior.retired)
          acc + (key -> ns2.id)
        })
  }

  /** Stage an add-snapshot member. The posted table state must be
    * (base − dropped) ∪ new: an `append` may not drop anything; an
    * `overwrite`/`delete` is the engine's copy-on-write rewrite (dropped
    * base files leave the live set, added files register at the table's
    * next sequence); a `replace` is the engine's own compaction.
    * EQUALITY delete files lower onto graft's predicate tombstones — the
    * exact inverse of the exporter's tombstone → equality-delete mapping
    * (SURVEY §2.1b.3): the posted value rows become one tombstone at the
    * table's next sequence, and data files added in the SAME commit
    * register at that sequence and are exempt (Iceberg's strictly-lower
    * rule, graft's strict `>` applicability — the Flink-upsert shape).
    * POSITIONAL delete files and v3 DVs — the default Spark MoR
    * DELETE/UPDATE shape — lower onto a server-side CoW rewrite of
    * exactly the files they reference ([[materializePosDeletes]]).
    * Reference parity: LakeFSTableOperations.commit (java:115-147)
    * accepts any metadata swap. Everything expensive — footer reads,
    * copy-in, the positional rewrite's Spark jobs — runs here, before
    * the commit race, so a commit retry never re-runs it.
    */
  private def stageData(repo: GraftRepo, prefix: Option[String], c: Change,
      sv: Served, op: String, schemaChanges: Seq[TableChange]): Staged = {
    val key = c.key
    val (postedData, postedDeletes) =
      postedFiles(c.snapshot.get, sv.meta.get("format-version").asInt())
    val basePlan = IcebergImport.plan(sv.path.toString, None)
    // delete files the posted snapshot RELISTS from the served export
    // are the table's OWN tombstones coming back (a real engine reuses
    // existing delete manifests on every commit — an append on a
    // MoR-tombstoned table relists them verbatim). Their semantics
    // already live in graft's properties, so they are recognized by
    // path and skipped: refusing would 400 every legitimate append on
    // a tombstoned table, re-lowering would duplicate the tombstone
    // per commit.
    val servedDeletePaths =
      basePlan.deleteFiles.map(d => IcebergImport.normStr(d.path)).toSet
    val newDeletes = postedDeletes.filterNot(d =>
      servedDeletePaths(IcebergImport.normStr(d.path)))
    val (eqDeletes, posDeletes) =
      newDeletes.partition(d => d.content == 2 && d.dv.isEmpty)
    if (posDeletes.nonEmpty && op == "append")
      throw new IllegalArgumentException(
        "append commit carries positional delete files (post " +
          "operation=overwrite or delete)")
    if (eqDeletes.nonEmpty && op == "append")
      throw new IllegalArgumentException(
        "append commit carries equality delete files (post " +
          "operation=overwrite or delete)")
    val basePaths = basePlan.dataPaths.toSet
    val dropped = basePaths -- postedData.map(_.path)
    if (op == "append" && dropped.nonEmpty)
      throw new UnsupportedOperationException(
        s"posted snapshot drops ${dropped.size} base data file(s) — not " +
          "an append (post operation=overwrite to rewrite files)")
    if (eqDeletes.nonEmpty && dropped.nonEmpty)
      throw new UnsupportedOperationException(
        "one commit mixes dropped data files (CoW) with equality " +
          "delete files (MoR) — post them as two commits")
    if (posDeletes.nonEmpty && dropped.nonEmpty)
      throw new UnsupportedOperationException(
        "one commit mixes dropped data files (CoW) with positional " +
          "delete files (MoR) — post them as two commits")
    val addedFiles = postedData.filterNot(d => basePaths(d.path))
    val hconf = hadoopConf
    val destRoot = tableRoot(prefix, c.ref, key)
    val head = repo.snapshot(sv.graftSnap)
    // the EVOLVED table shape this commit's files are described under
    // (identity when no schema change was posted)
    val ev = SchemaEvolution.evolve(head, schemaChanges)
    if (op == "replace")
      return stageReplace(repo, c, sv, head, ev, basePlan, postedDeletes,
        newDeletes, dropped, addedFiles, destRoot, hconf)
    if (posDeletes.nonEmpty) {
      val pm = materializePosDeletes(repo, c.ref, key, destRoot, head,
        basePlan, addedFiles, posDeletes, eqDeletes, hconf)
      return Staged(key, s"rest: $op $key (positional deletes " +
        s"materialized: ${pm.dirtyBase} base file(s) rewritten, " +
        s"${pm.dirtyAdds} add(s) folded, +${pm.cleanEntries.size} new" +
        (if (pm.eqFilter.isDefined) ", equality tombstone" else "") + ")",
        writes = true, memberFold(repo, c, sv,
          pm.rewritten ++ pm.cleanEntries, pm.eqFilter, pm.dropBaseRels,
          Nil))
    }
    // equality deletes → ONE tombstone predicate (Or across files/rows),
    // refused (NULL-valued, oversized) before any file registers
    val eqFilter =
      if (eqDeletes.isEmpty) None
      else Some(equalityTombstoneFilter(repo, destRoot, eqDeletes,
        basePlan.fieldIdToName, hconf))
    val entries = ingestEntries(repo, c.ref, key, destRoot, addedFiles,
      ev.schema, ev.mapping, ev.spec, hconf)
    val dropRels = dropped.toSeq.sorted.map(dataRel(repo, _))
    val rows = entries.map(_.rows).sum
    Staged(key,
      if (eqFilter.isDefined)
        s"rest: $op $key (merge-on-read, +${entries.size} files)"
      else if (schemaChanges.nonEmpty)
        s"rest: evolve+append $key (+${entries.size} files)"
      else if (op == "append")
        s"rest: append $key (${entries.size} files, $rows rows)"
      else s"rest: $op $key (+${entries.size}/-${dropRels.size} files, " +
        s"+$rows rows)",
      writes = true,
      memberFold(repo, c, sv, entries, eqFilter, dropRels, schemaChanges))
  }

  /** operation=replace: an external engine's OWN maintenance — Spark's
    * rewrite_data_files, Flink's compaction — posting a row-preserving
    * rewrite: dropped base files re-expressed as new files with
    * identical live content. Graft validates the shape the way
    * TableOps.compact validates its own rewrite — dropped files must
    * still be live at the commit base and the tombstone set must not
    * have moved since the served base (a concurrent MoR delete would be
    * silently materialized away) — and lands it as a structural
    * compaction commit (Commit.CompactMarker), so the Iceberg export
    * classifies it `replace` and changesBetween nets it to zero.
    */
  private def stageReplace(repo: GraftRepo, c: Change, sv: Served,
      head: Snapshot, ev: EvolvedTable, basePlan: IcebergImport.Plan,
      postedDeletes: Seq[IcebergImport.DeleteFile],
      newDeletes: Seq[IcebergImport.DeleteFile], dropped: Set[String],
      addedFiles: Seq[IcebergImport.DataFile], destRoot: Path,
      hconf: org.apache.hadoop.conf.Configuration): Staged = {
    val key = c.key
    if (newDeletes.nonEmpty)
      throw new IllegalArgumentException(
        s"replace (compaction) commit posts ${newDeletes.size} new " +
          "delete file(s) — a rewrite materializes deletes, it does " +
          "not add them (post MoR deletes as operation=delete)")
    // a served delete file this replace RETIRES must no longer apply
    // to any surviving base file, or the rows it masked would
    // resurrect in the engine's view of the table
    val postedDelNorm = postedDeletes
      .map(dd => IcebergImport.normStr(dd.path)).toSet
    val retiredDels = basePlan.deleteFiles.filterNot(dd =>
      postedDelNorm(IcebergImport.normStr(dd.path)))
    val survivingBase = basePlan.dataFiles.filterNot(f => dropped(f.path))
    retiredDels.foreach { dd =>
      val mayApply = dd.dv match {
        case Some(r) => survivingBase.exists(f =>
          IcebergImport.normStr(f.path) ==
            IcebergImport.normStr(r.referencedFile))
        case None if dd.content == 2 => survivingBase.exists(_.seq < dd.seq)
        // file-based positional: which files it references is not
        // knowable without reading it — conservative refusal
        case None => survivingBase.exists(_.seq <= dd.seq)
      }
      if (mayApply) throw new IllegalArgumentException(
        s"replace commit retires delete file ${dd.path} that may " +
          "still apply to surviving base file(s) — the rows it masks " +
          "would resurrect; rewrite those files too or relist it")
    }
    val entries = ingestEntries(repo, c.ref, key, destRoot, addedFiles,
      ev.schema, ev.mapping, ev.spec, hconf)
    val dropSet = basePlan.dataFiles.filter(f => dropped(f.path))
      .map(f => dataRel(repo, f.path)).toSet
    Staged(key, s"rest: replace $key (engine compaction: " +
      s"-${dropSet.size} +${entries.size} files)", writes = true,
      (base, acc) => {
        sv.pin(base)
        val prior = repo.snapshot(base.tables(key))
        val missing = dropSet -- prior.files.iterator.map(_.path)
        if (missing.nonEmpty) throw new MergeConflictException(
          s"replace of $key drops ${missing.size} file(s) not live at " +
            s"the commit base (e.g. ${missing.head}) — refresh and retry")
        if (Tombstones.signature(prior) != Tombstones.signature(head))
          throw new MergeConflictException(
            s"replace of $key conflicts with a concurrent merge-on-read " +
              "delete since the served base — refresh and re-run")
        // row-preservation sanity: a replace may only SHRINK rows, and
        // only by materializing deletes that masked the dropped files;
        // when nothing masked them it must preserve rows EXACTLY. The
        // CompactMarker makes changesBetween net this commit to zero,
        // so a lying rewrite would otherwise hide inserts (or silent
        // row loss) from every CDC consumer.
        val droppedEntries = prior.files.filter(f => dropSet(f.path))
        val droppedRows = droppedEntries.map(_.rows).sum
        val addedRows = entries.map(_.rows).sum
        if (addedRows > droppedRows) throw new IllegalArgumentException(
          s"replace of $key posts $addedRows rows where the dropped " +
            s"files held $droppedRows — a compaction never grows rows " +
            "(post new rows as operation=append)")
        val tombs = Tombstones.of(prior)
        // seqNo, NOT seq.getOrElse: jackson materializes small JSON
        // numbers as boxed Integers inside Option[Long] (Model.scala),
        // so a loaded snapshot's f.seq unboxes to ClassCastException
        val anyMasked = retiredDels.nonEmpty || droppedEntries.exists(f =>
          tombs.exists(_.seq > f.seqNo))
        if (!anyMasked && addedRows != droppedRows)
          throw new IllegalArgumentException(
            s"replace of $key posts $addedRows rows where the dropped " +
              s"files held $droppedRows and no delete masked them — a " +
              "row-preserving rewrite must keep the count exact")
        val props0 = (prior.properties -- c.removeProps) ++ c.setProps
        val next = Tombstones.lastSeq(props0) + 1
        val snap2 = repo.writeSnapshot(key, prior.schemaJson,
          prior.files.filterNot(f => dropSet(f.path)) ++
            entries.map(_.copy(seq = Some(next))),
          prior.partitionBy, prior.physicalNames,
          Some(props0 + (Tombstones.SeqProp -> next.toString)),
          prior.retired)
        acc + (key -> snap2.id)
      }, marker = Some(Commit.CompactMarker))
  }

  /** Build (and write) the snapshot a member's validated pieces
    * produce against `prior`: a metadata-only member (no files, no
    * deletes, no drops) evolves schema/properties with NO sequence bump;
    * an evolve+append member stamps its files at the next MoR sequence
    * under the schema it adds; otherwise entries stamp at the next
    * sequence, an equality
    * filter lands as a tombstone masking strictly-lower sequences
    * (same-commit adds exempt by graft's strict `>` applicability),
    * and drops leave the live set — re-validated live against `prior`
    * (the caller's base pin makes a violation unreachable; the check
    * guards the invariant). writeSnapshot retires any tombstone the
    * drops leave with nothing to apply to.
    */
  private def memberSnapshot(repo: GraftRepo, key: String,
      prior: graft.versioned.Snapshot,
      entries: Seq[FileEntry],
      eqFilter: Option[org.apache.spark.sql.sources.Filter],
      dropRels: Seq[String],
      schemaChanges: Seq[org.apache.spark.sql.connector.catalog.TableChange],
      setProps: Map[String, String],
      removeProps: Set[String]): graft.versioned.Snapshot =
    if (entries.isEmpty && eqFilter.isEmpty && dropRels.isEmpty) {
      val ev = SchemaEvolution.evolve(prior, schemaChanges)
      val props = (ev.props -- removeProps) ++ setProps
      repo.writeSnapshot(key, ev.schema.json, prior.files,
        if (ev.spec.isEmpty) None else Some(ev.spec),
        if (ev.mapping.isEmpty) None else Some(ev.mapping),
        if (props.isEmpty) None else Some(props),
        if (ev.retired.isEmpty) None else Some(ev.retired.toSeq.sorted))
    } else if (schemaChanges.nonEmpty) {
      require(eqFilter.isEmpty && dropRels.isEmpty,
        "schema changes combine only with plain appends") // guarded upstream
      val ev = SchemaEvolution.evolve(prior, schemaChanges)
      val props0 = (ev.props -- removeProps) ++ setProps
      val next = Tombstones.lastSeq(props0) + 1
      val stamped = entries.map(_.copy(seq = Some(next)))
      repo.writeSnapshot(key, ev.schema.json,
        Manifests.appended(prior.files, stamped),
        if (ev.spec.isEmpty) None else Some(ev.spec),
        if (ev.mapping.isEmpty) None else Some(ev.mapping),
        Some(props0 + (Tombstones.SeqProp -> next.toString)),
        if (ev.retired.isEmpty) None else Some(ev.retired.toSeq.sorted))
    } else {
      val props0 = (prior.properties -- removeProps) ++ setProps
      val next = Tombstones.lastSeq(props0) + 1
      val stamped = entries.map(_.copy(seq = Some(next)))
      val props1 = eqFilter match {
        case Some(f) => Tombstones.append(props0, next, f)
        case None => props0 + (Tombstones.SeqProp -> next.toString)
      }
      val files2 =
        if (dropRels.isEmpty) Manifests.appended(prior.files, stamped)
        else {
          val dropSet = dropRels.toSet
          val live = prior.files.iterator.map(_.path).toSet
          val missing = dropSet -- live
          if (missing.nonEmpty) throw new RestConflict(
            "CommitFailedException",
            s"rewrite of $key drops ${missing.size} file(s) not live " +
              s"at the commit base (e.g. ${missing.head}) — refresh " +
              "and retry")
          prior.files.filterNot(f => dropSet(f.path)) ++ stamped
        }
      repo.writeSnapshot(key, prior.schemaJson, files2,
        prior.partitionBy, prior.physicalNames,
        Some(props1), prior.retired)
    }

  /** Rewritten-file pieces of a lowered positional-delete commit (see
    * [[materializePosDeletes]]), registered by the member's fold.
    */
  private final case class PosMaterialized(
      rewritten: Seq[FileEntry], dropBaseRels: Seq[String],
      cleanEntries: Seq[FileEntry],
      eqFilter: Option[org.apache.spark.sql.sources.Filter],
      dirtyBase: Int, dirtyAdds: Int)

  /** Lower posted POSITIONAL deletes / v3 DVs onto a server-side CoW
    * rewrite of EXACTLY the referenced (dirty) files: the posted delete
    * rows apply through the independent importer's spec-sequence
    * semantics (IcebergImport.readPlan on a sub-plan of the dirty
    * files), and the survivors land as native graft files. Cost is
    * O(dirty files + delete rows) — what the engine's own CoW DELETE
    * would have paid. The full Flink-upsert commit shape lands in one
    * piece (r13):
    *  - new data files in the same commit (Spark MoR UPDATE: new rows
    *    + positions masking the old) ride the same commit;
    *  - positions may reference SAME-COMMIT added files (Flink's
    *    intra-checkpoint dedup) — those adds are rewritten instead of
    *    registered verbatim;
    *  - equality deletes may ride the same commit: per the spec they
    *    apply STRICTLY BELOW the commit's sequence, so they are
    *    applied physically to the dirty base files' survivors during
    *    the rewrite and land as a tombstone for the untouched files;
    *    same-commit adds stay exempt.
    * The Spark jobs run BEFORE the caller's atomic commit closure (a
    * commit retry must never re-run a distributed rewrite); the caller
    * re-validates the dropped files against ITS base inside the
    * closure, so a concurrent change still 409s instead of silently
    * registering stale survivors.
    */
  private def materializePosDeletes(repo: GraftRepo, ref: String,
      key: String, destRoot: Path, head: graft.versioned.Snapshot,
      basePlan: IcebergImport.Plan,
      addedFiles: Seq[IcebergImport.DataFile],
      posDeletes: Seq[IcebergImport.DeleteFile],
      eqDeletes: Seq[IcebergImport.DeleteFile],
      hconf: org.apache.hadoop.conf.Configuration): PosMaterialized = {
    val s = spark.getOrElse(throw new UnsupportedOperationException(
      "positional-delete commits need the serving SparkSession: the " +
        "referenced files are rewritten with a distributed read"))
    val baseByNorm = basePlan.dataFiles
      .map(f => IcebergImport.normStr(f.path) -> f).toMap
    val addByNorm = addedFiles
      .map(f => IcebergImport.normStr(f.path) -> f).toMap
    val gSchema = org.apache.spark.sql.types.DataType
      .fromJson(head.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      // DVs name their referenced file in the manifest; file-based
      // positional deletes are read for their distinct file_path values
      // (delete files are small — this is one skinny distinct scan per
      // format group, the same readers readPlan applies them with). The
      // distinct collects to the driver, so it is SIZE-GUARDED: a commit
      // can only dirty files it lists, and a sane engine's per-commit
      // delete manifest names far fewer — a post past the cap is
      // malformed (or an attack on driver memory) and refuses 400.
      val maxDirty = spark.flatMap(ss => scala.util.Try(ss.conf.get(
        "spark.graft.rest.maxDirtyFiles").toInt).toOption).getOrElse(1000000)
      def guarded(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        val rows = df.limit(maxDirty + 1).collect()
        if (rows.length > maxDirty) throw new IllegalArgumentException(
          s"positional deletes reference more than $maxDirty distinct " +
            "data files in one commit (spark.graft.rest.maxDirtyFiles) " +
            "— split the commit or raise the cap")
        rows.map(r => IcebergImport.normStr(r.getString(0))).toSeq
      }
      val dvDirty = posDeletes.flatMap(_.dv)
        .map(r => IcebergImport.normStr(r.referencedFile))
      val fileDels = posDeletes.filter(_.dv.isEmpty)
      val posSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file_path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType)))
      val readDirty: Seq[String] = fileDels.groupBy(_.format).toSeq
        .sortBy(_._1).flatMap {
          case ("PARQUET", fs) => guarded(s.read.parquet(fs.map(_.path): _*)
            .select(col("file_path")).distinct())
          case ("ORC", fs) => guarded(s.read.schema(posSchema)
            .orc(fs.map(_.path): _*).select(col("file_path")).distinct())
          case ("AVRO", fs) => guarded(IcebergImport.avroScan(s,
            fs.map(_.path), posSchema,
            Map("file_path" -> 2147483546, "pos" -> 2147483545))
            .select(col("file_path")).distinct())
          case (other, fs) => throw new UnsupportedOperationException(
            s"unsupported positional delete file format $other " +
              s"(${fs.head.path})")
        }
      val dirtyNorm = (dvDirty ++ readDirty).distinct
      if (dirtyNorm.size > maxDirty) throw new IllegalArgumentException(
        s"positional deletes reference more than $maxDirty distinct " +
          "data files in one commit (spark.graft.rest.maxDirtyFiles) " +
          "— split the commit or raise the cap")
      val (dirtyBaseNorm, restNorm) = dirtyNorm.partition(baseByNorm.contains)
      val (dirtyAddNorm, unknown) = restNorm.partition(addByNorm.contains)
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"positional deletes reference ${unknown.size} file(s) neither " +
          s"live at the commit base nor added by this commit (e.g. " +
          s"${unknown.head}) — not a state this table ever held")
      // sub-plan sequence numbers are ASSIGNED, not trusted from the
      // post: dirty base files keep their SERVED sequence numbers and
      // the table's EXISTING delete files (the served export of its MoR
      // tombstones / DVs) ride the sub-plan at theirs — the rewrite must
      // apply whatever already masked those files, because the survivors
      // land at graft seq `next` (above every existing tombstone, which
      // applies only at t.seq > f.seqNo) and would otherwise RESURRECT
      // rows an earlier delete removed. The posted deletes and
      // same-commit adds are assigned one ABOVE the served maximum:
      // positional applies at <= (base AND same-commit adds), equality
      // strictly < (base only), exactly the spec's rules for one engine
      // commit, and existing deletes keep applying only to base files.
      // validate (and build) the equality tombstone FIRST: a NULL-valued
      // or oversized equality delete must refuse before any Spark job
      // stages rewrite files
      val eqFilter =
        if (eqDeletes.isEmpty) None
        else Some(equalityTombstoneFilter(repo, destRoot, eqDeletes,
          basePlan.fieldIdToName, hconf))
      val servedMaxSeq = (basePlan.dataFiles.iterator.map(_.seq) ++
        basePlan.deleteFiles.iterator.map(_.seq) ++ Iterator(0L)).max
      val subSeq = servedMaxSeq + 1
      val dirtyFiles = dirtyBaseNorm.map(baseByNorm) ++
        dirtyAddNorm.map(n => addByNorm(n).copy(seq = subSeq))
      // existing DVs are pre-filtered to the dirty set (the manifest
      // names their referenced file — free); file-based existing
      // positional/equality deletes ride whole, readPlan path-matches
      val existingDeletes = basePlan.deleteFiles.filter(d => d.dv.forall(r =>
        dirtyNorm.contains(IcebergImport.normStr(r.referencedFile))))
      val subDeletes = existingDeletes ++
        (posDeletes ++ eqDeletes).map(_.copy(seq = subSeq))
      val surviving = IcebergImport.readPlan(s,
        basePlan.copy(dataFiles = dirtyFiles, deleteFiles = subDeletes))
      // the served plan emits PHYSICAL column names (export invariant);
      // writeFiles takes the table's LOGICAL shape + its name mapping —
      // the exact call the native CoW DELETE makes — so the rewritten
      // files keep partition layout and rename-proof physical stats
      val survivingLogical = surviving.select(
        gSchema.fields.toIndexedSeq.map(f =>
          col(head.physicalName(f.name)).as(f.name)): _*)
      val rewritten =
        if (surviving.isEmpty) Nil
        else TableOps.writeFiles(s, repo, survivingLogical, key,
          head.partitionFields, head.nameMapping,
          // a bloom table's rewrite keeps building sidecars — pruning
          // must not decay under engine-driven MoR churn
          bloomCols = Blooms.physCols(head,
            TableOps.toPhysical(gSchema, head.nameMapping)),
          bloomItems = Blooms.items(head))
      val dropRels = dirtyBaseNorm.map(n => dataRel(repo, baseByNorm(n).path))
      // clean adds register as usual; dirty adds were folded into the
      // rewrite above and must not land twice
      val cleanEntries = ingestEntries(repo, ref, key, destRoot,
        addedFiles.filterNot(f =>
          dirtyAddNorm.contains(IcebergImport.normStr(f.path))),
        gSchema, head.nameMapping, head.partitionFields, hconf)
      PosMaterialized(rewritten, dropRels, cleanEntries, eqFilter,
        dirtyBaseNorm.size, dirtyAddNorm.size)
    }

  /** Register the posted added files and derive their [[FileEntry]]
    * metadata: zero-copy for files already under the data plane,
    * copy-in for files staged under the table's served location; stats
    * from O(new files) parquet footer reads; partition tuples from the
    * posted manifest records, re-rendered canonically and — for
    * identity transforms — cross-checked against the footers.
    */
  private def ingestEntries(repo: GraftRepo, ref: String, key: String,
      destRoot: Path, addedFiles: Seq[IcebergImport.DataFile],
      schema: org.apache.spark.sql.types.StructType,
      mapping: Map[String, String], spec: Seq[PartitionField],
      hconf: org.apache.hadoop.conf.Configuration): Seq[FileEntry] = {
    addedFiles.foreach { d =>
      if (d.format != "PARQUET") throw new UnsupportedOperationException(
        s"graft's data plane is parquet: cannot register ${d.format} " +
          s"file ${d.path}")
    }
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    // copy-in fallback accepts ONLY files under the table's own served
    // location (where a writer ignoring write.data.path stages, e.g.
    // `location/data/...`) — an arbitrary posted path must not turn the
    // catalog into a confused deputy that reads any server-local file
    // into the queryable data plane
    val rels = addedFiles.map(_.path).map { loc =>
      repo.dataIO.relOf(loc) match {
        case Some(rel) => rel
        case None =>
          val local = java.nio.file.Paths.get(loc).toAbsolutePath.normalize
          if (!local.startsWith(destRoot) || !Files.isRegularFile(local))
            throw new IllegalArgumentException(
              s"cannot ingest $loc: data files must be staged under the " +
                s"served write.data.path (zero-copy) or the table " +
                s"location $destRoot")
          val rel = s"${stageRel(ref, key)}/ingest-$stamp-${local.getFileName}"
          // via a temp copy: uploadAtomic consumes its source, and the
          // posted file belongs to the writer, not to this catalog
          val tmp = Files.createTempFile("graft-rest-ingest", ".parquet")
          Files.copy(local, tmp,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          repo.dataIO.uploadAtomic(tmp, rel)
          rel
      }
    }
    // stats stay keyed under PHYSICAL names — the repo-wide invariant
    // that keeps column renames metadata-only (see TableOps.writeFiles).
    // Deliberately FOOTER-ONLY: registering an engine's file must not
    // scan its rows, so a bloom table's posted files carry no sidecar
    // until the next compaction rebuilds them (absent sidecars are
    // always admitted — soundness unaffected).
    // partitioned tables: the posted manifest's partition record is
    // authoritative for each file's partition tuple (the Iceberg trust
    // model — the catalog registers what the engine declared, exactly
    // as it trusts the engine's row data). Values re-render into
    // graft's canonical directory strings; a spec field the record
    // does not carry refuses loudly.
    val entries0 = TableOps.entriesFromFootersLocal(repo,
      rels, TableOps.toPhysical(schema, mapping), hconf)
    if (spec.isEmpty) entries0
    else {
      def srcTypeOf(pf: PartitionField): org.apache.spark.sql.types.DataType =
        schema.fields.find(_.name == pf.source).map(_.dataType)
          .getOrElse(throw new IllegalStateException(
            s"partition source ${pf.source} not in table schema"))
      def physOf(logical: String): String = mapping.getOrElse(logical, logical)
      entries0.zip(addedFiles).map { case (en, dfile) =>
        val pv = spec.map { pf =>
          if (!dfile.partition.contains(pf.name))
            throw new IllegalArgumentException(
              s"posted data file ${dfile.path} carries no partition " +
                s"value for spec field '${pf.name}' — partitioned " +
                "commits must declare every field in the manifest's " +
                "partition record")
          val raw = IcebergImport.rawPartitionValue(pf, srcTypeOf(pf),
            dfile.partition(pf.name))
          // identity declarations are cheaply FALSIFIABLE here — unlike
          // a normal Iceberg catalog this server already read the
          // file's parquet footer in the same pass. A wrong identity
          // value would make partition pruning silently drop the
          // file's rows from results, so cross-check it against the
          // footer min/max of the source column (containment, which
          // stays valid under footer string truncation) and refuse
          // loudly. Non-identity transforms (bucket/truncate/temporal)
          // aren't invertible from stats alone and keep the plain
          // Iceberg trust model.
          if (pf.transform == "identity")
            checkIdentityAgainstFooter(pf, srcTypeOf(pf), raw, en,
              physOf(pf.source), dfile.path)
          pf.name -> raw
        }.toMap
        en.copy(partitionValues = Some(pv))
      }
    }
  }

  /** FIELD-ID diff of two Iceberg schema nodes → graft TableChanges.
    * Field ids are the identity Iceberg evolution preserves, so
    * id-present-in-one-side decides add/drop and same-id-different-name
    * decides rename — recursively: struct members (any depth, including
    * structs under list `element` / map `key`/`value` positions) diff
    * the same way, producing nested-path changes the shared
    * [[SchemaEvolution]] core applies with its own guards. Leaf type
    * changes lower to UpdateColumnType and inherit the widening-only
    * guard; container-shape changes (list→scalar, changed element ids)
    * compare as whole types and refuse loudly through the same gate.
    */
  private def schemaChangesOf(oldS: com.fasterxml.jackson.databind.JsonNode,
      newS: com.fasterxml.jackson.databind.JsonNode)
      : Seq[org.apache.spark.sql.connector.catalog.TableChange] = {
    import org.apache.spark.sql.connector.catalog.TableChange
    type JN = com.fasterxml.jackson.databind.JsonNode
    val out = scala.collection.mutable.ArrayBuffer[TableChange]()
    def kind(n: JN): String =
      if (n == null || n.isTextual) "" else Option(n.get("type"))
        .map(_.asText()).getOrElse("")
    def diffFields(oldF: JN, newF: JN, path: Seq[String]): Unit = {
      if (oldF == null || !oldF.isArray || newF == null || !newF.isArray)
        throw new IllegalArgumentException(
          "malformed add-schema: schema carries no fields array")
      final case class F(id: Int, name: String, tn: JN)
      def fs(a: JN): Seq[F] = a.elements().asScala.toSeq.map { f =>
        val (id, nm) = fieldIdName(f)
        F(id, nm, f.get("type"))
      }
      val o = fs(oldF)
      val n = fs(newF)
      val oldById = o.map(f => f.id -> f).toMap
      val newIds = n.map(_.id).toSet
      // drops first: a re-added name then takes the retired-name path
      // and gets a fresh physical name (old bytes never resurface)
      o.filterNot(f => newIds(f.id)).foreach { f =>
        out += TableChange.deleteColumn((path :+ f.name).toArray, false)
      }
      n.foreach { f =>
        oldById.get(f.id) match {
          case None =>
            out += TableChange.addColumn((path :+ f.name).toArray,
              IcebergImport.sparkTypeNode(f.tn))
          case Some(of) =>
            var cur = of.name
            if (of.name != f.name) {
              out += TableChange.renameColumn((path :+ of.name).toArray,
                f.name)
              cur = f.name
            }
            diffType(of.tn, f.tn, path :+ cur)
        }
      }
    }
    def diffType(ot: JN, nt: JN, path: Seq[String]): Unit =
      (kind(ot), kind(nt)) match {
        case ("struct", "struct") =>
          diffFields(ot.get("fields"), nt.get("fields"), path)
        case ("list", "list")
          if Option(nt.get("element-id")).exists(n =>
            Option(ot.get("element-id")).exists(_.asInt() == n.asInt())) =>
          diffType(ot.get("element"), nt.get("element"), path :+ "element")
        case ("map", "map")
          if Option(nt.get("key-id")).exists(n =>
              Option(ot.get("key-id")).exists(_.asInt() == n.asInt())) &&
            Option(nt.get("value-id")).exists(n =>
              Option(ot.get("value-id")).exists(_.asInt() == n.asInt())) =>
          diffType(ot.get("key"), nt.get("key"), path :+ "key")
          diffType(ot.get("value"), nt.get("value"), path :+ "value")
        case _ =>
          val od = IcebergImport.sparkTypeNode(ot)
          val nd = IcebergImport.sparkTypeNode(nt)
          if (od != nd)
            out += TableChange.updateColumnType(path.toArray, nd)
      }
    diffFields(
      Option(oldS).map(_.get("fields")).orNull,
      Option(newS).map(_.get("fields")).orNull, Nil)
    out.toSeq
  }

  /** Posted equality delete files → ONE graft tombstone predicate: the
    * exact inverse of the exporter's tombstone → equality-delete
    * mapping. Each file's value rows (read driver-side, O(delete rows))
    * become per-row equality conjunctions over the referenced columns
    * (In(...) for the common single-column id case), Or-combined across
    * rows and files. Capped at [[IcebergExport.MaxEqualityRows]] total —
    * past that the engine posts its CoW rewrite, same trade the
    * exporter makes in the other direction.
    */
  private def equalityTombstoneFilter(repo: GraftRepo, destRoot: Path,
      eqDeletes: Seq[IcebergImport.DeleteFile],
      fieldIdToName: Map[Int, String],
      hconf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.sources.Filter = {
    import org.apache.spark.sql.sources
    def localOf(loc: String): String =
      repo.dataIO.relOf(loc) match {
        case Some(rel) => repo.dataLocation(rel)
        case None =>
          val local = java.nio.file.Paths.get(loc).toAbsolutePath.normalize
          if (!local.startsWith(destRoot) || !Files.isRegularFile(local))
            throw new IllegalArgumentException(
              s"cannot read equality delete $loc: delete files must sit " +
                s"under the served write.data.path or the table " +
                s"location $destRoot")
          local.toString
      }
    var totalRows = 0L
    val perFile = eqDeletes.map { d =>
      if (d.format != "PARQUET") throw new UnsupportedOperationException(
        s"equality delete files must be parquet over REST: ${d.path} " +
          s"is ${d.format}")
      if (d.equalityIds.isEmpty) throw new IllegalArgumentException(
        s"equality delete without equality_ids: ${d.path}")
      // the served schema (what the engine saw and what the delete
      // file's columns are named after) uses PHYSICAL column names by
      // design (IcebergExport class doc) — which is exactly the name
      // space tombstone predicates live in, so the served name is used
      // VERBATIM; remapping through nameMapping would mis-target the
      // rename-then-re-add-same-name edge (the re-added logical name
      // maps to a FRESH physical name, not this column's bytes)
      val physCols = d.equalityIds.map(id => fieldIdToName.getOrElse(id,
        throw new IllegalArgumentException(
          s"equality_ids references unknown field id $id")))
      val rows = readEqualityRows(localOf(d.path), hconf, physCols)
      totalRows += rows.size
      if (totalRows > IcebergExport.MaxEqualityRows)
        throw new UnsupportedOperationException(
          s"equality delete commit carries more than " +
            s"${IcebergExport.MaxEqualityRows} value rows — post the " +
            "copy-on-write rewrite instead")
      if (rows.isEmpty) None
      else if (rows.exists(_.values.exists(_ == null)))
        throw new UnsupportedOperationException(
          s"equality delete ${d.path} carries NULL values — the spec's " +
            "null-safe match is not expressible as a graft tombstone; " +
            "post the CoW rewrite instead")
      else if (physCols.size == 1)
        Some(sources.In(physCols.head, rows.map(_(physCols.head)).toArray))
      else Some(rows.map { r =>
        physCols.map { pc =>
          sources.EqualTo(pc, r(pc)): sources.Filter
        }.reduce(sources.And(_, _))
      }.reduce(sources.Or(_, _)))
    }
    val filters = perFile.flatten
    if (filters.isEmpty) throw new IllegalArgumentException(
      "equality delete commit carries no value rows")
    filters.reduce(sources.Or(_, _))
  }

  /** Driver-side value-row read of an equality delete parquet: the
    * requested columns' values in [[FilterJson]]'s canonical decoded
    * forms (Long / Double / String / Boolean / java.sql.Date /
    * java.sql.Timestamp). Delete files are O(deleted keys), so this is
    * the same bounded cost the footer-stats pass pays per data file.
    */
  private def readEqualityRows(loc: String,
      hconf: org.apache.hadoop.conf.Configuration,
      wantCols: Seq[String]): Seq[Map[String, Any]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val reader = org.apache.parquet.hadoop.ParquetReader.builder(
      new org.apache.parquet.hadoop.example.GroupReadSupport(),
      new org.apache.hadoop.fs.Path(loc)).withConf(hconf).build()
    val out = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    try {
      var g = reader.read()
      while (g != null) {
        val gt = g.getType
        out += wantCols.map { c =>
          val idx =
            try gt.getFieldIndex(c)
            catch { case _: Exception =>
              throw new IllegalArgumentException(
                s"equality delete $loc has no column '$c'")
            }
          if (g.getFieldRepetitionCount(idx) == 0) c -> null
          else {
            val pt = gt.getType(idx).asPrimitiveType()
            val ann = Option(pt.getLogicalTypeAnnotation)
            val value: Any = pt.getPrimitiveTypeName match {
              case BINARY if ann.exists(
                _.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]) =>
                g.getString(idx, 0)
              case INT32 if ann.exists(
                _.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]) =>
                java.sql.Date.valueOf(
                  java.time.LocalDate.ofEpochDay(g.getInteger(idx, 0).toLong))
              case INT64 if ann.exists(
                _.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]) =>
                val t = ann.get
                  .asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
                val raw = g.getLong(idx, 0)
                val us = t.getUnit match {
                  case LogicalTypeAnnotation.TimeUnit.MICROS => raw
                  case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
                  case other => throw new UnsupportedOperationException(
                    s"equality delete timestamp unit $other")
                }
                java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
                  Math.floorDiv(us, 1000000L),
                  Math.floorMod(us, 1000000L) * 1000L))
              case INT32 => g.getInteger(idx, 0).toLong
              case INT64 => g.getLong(idx, 0)
              case BOOLEAN => g.getBoolean(idx, 0)
              case FLOAT => g.getFloat(idx, 0).toDouble
              case DOUBLE => g.getDouble(idx, 0)
              case other => throw new UnsupportedOperationException(
                s"equality delete column '$c' has unsupported type $other")
            }
            c -> value
          }
        }.toMap
        g = reader.read()
      }
    } finally reader.close()
    out.toSeq
  }

  /** Refuse an identity partition declaration the file's own parquet
    * footer contradicts. The Iceberg trust model registers whatever
    * tuple the engine declared — but this server reads each added
    * file's footer anyway (for graft's stats), so a lying or
    * misconfigured engine is cheaply falsifiable: the declared identity
    * value must CONTAIN the footer min/max range of the source column
    * (containment rather than equality keeps the check valid when a
    * footer truncates long string stats; for a genuinely
    * single-valued file min == declared == max). Footers with no stats
    * for the column prove nothing and pass. Without this, a wrong
    * declaration makes partition pruning silently drop the file's rows
    * from query results.
    */
  private def checkIdentityAgainstFooter(pf: PartitionField,
      srcType: org.apache.spark.sql.types.DataType, declared: String,
      en: FileEntry, phys: String, path: String): Unit = {
    import org.apache.spark.sql.types._
    if (declared == Partitioning.NullMarker) {
      // a null identity tuple means the file holds ONLY nulls in the
      // source column — any footer min proves a non-null value exists
      if (en.min.contains(phys))
        throw new IllegalArgumentException(
          s"posted data file $path declares identity partition " +
            s"${pf.name}=null but its footer records non-null " +
            s"${pf.source} values (min=${en.min(phys)})")
      return
    }
    (en.min.get(phys), en.max.get(phys)) match {
      case (Some(mn), Some(mx)) =>
        // a malformed stat rendering proves nothing — degrade to
        // "nothing to falsify" rather than escape as a 500
        val ok = try {
          srcType match {
            case ByteType | ShortType | IntegerType | LongType =>
              val d = declared.toLong; mn.toLong <= d && d <= mx.toLong
            case FloatType | DoubleType | _: DecimalType =>
              // fractional renderings are NOT lexicographically
              // order-consistent ("9.5" > "10.2") — compare numerically
              val d = BigDecimal(declared)
              BigDecimal(mn) <= d && d <= BigDecimal(mx)
            case _ =>
              // date/timestamp/boolean/string renderings all order
              // lexicographically consistently with their value order
              mn <= declared && declared <= mx
          }
        } catch { case _: NumberFormatException => true }
        if (!ok) throw new IllegalArgumentException(
          s"posted data file $path declares identity partition " +
            s"${pf.name}=$declared but its footer stats for " +
            s"${pf.source} span [$mn, $mx] — refusing a declaration " +
            "the file itself contradicts (partition pruning would " +
            "silently drop these rows)")
      case _ => // no stats for the column — nothing to falsify
    }
  }

  /** RegisterTableRequest — the catalog-migration entry point: an
    * existing Iceberg table (its `metadata-location`) is RE-HOMED into
    * graft. When the posted metadata's data files ALREADY live under
    * this repo's data plane (re-homing a sync-dest export or a sibling
    * export) and carry no delete files, they register IN PLACE —
    * zero-copy, O(metadata), no Spark job (r13). Otherwise — foreign
    * files, or a MoR source whose live rows are not its raw files —
    * graft's data plane must own the bytes, so the current snapshot's
    * LIVE ROWS are read through the independent importer
    * (positional/equality deletes and DVs applied — the table's
    * semantics, not its file layout) and land as native graft data
    * files in ONE commit; versioned history then begins at the
    * registration commit while the source keeps its own. The copy path
    * needs the serving SparkSession (the row copy is a distributed job).
    * Concurrent registers race on the key and one wins; the loser's
    * staged files are unreferenced and vacuumable. Trust model:
    * register reads whatever metadata location the caller names —
    * the same operator-level trust every Iceberg catalog's
    * registerTable extends, gated here behind `writable`.
    */
  private def registerTable(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], req: com.fasterxml.jackson.databind.JsonNode)
      : ObjectNode = {
    val (ref, dirs) = ns match {
      case r +: ds if ds.nonEmpty => (r, ds)
      case _ => throw new IllegalArgumentException(
        s"tables live under [ref, db...]: ${ns.mkString(".")}")
    }
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      if (repo.tagExists(ref)) s"tables commit to a branch; $ref is a tag"
      else s"no such branch: $ref")
    val name = text(req, "name")
    val key = (dirs :+ name).mkString("/")
    val metaLoc = text(req, "metadata-location")
    if (repo.resolve(ref).tables.contains(key))
      throw new RestConflict("AlreadyExistsException",
        s"table already exists: $key @ $ref")
    // an unreadable/garbage metadata location is the CLIENT's error
    val plan =
      try IcebergImport.plan(metaLoc, None)
      catch {
        case e @ (_: java.io.IOException |
                  _: org.apache.avro.AvroRuntimeException |
                  _: com.fasterxml.jackson.core.JacksonException) =>
          throw new IllegalArgumentException(
            s"metadata-location is unreadable: ${e.getMessage}")
      }
    // ZERO-COPY fast path: when every data file of the posted metadata
    // already resolves under THIS repo's data plane (a sync-dest or
    // sibling-branch export being re-homed — the same containment check
    // commitTable's zero-copy staging uses) and no delete files change
    // the live rows, the files register in place: O(metadata) adoption,
    // no Spark job. Foreign files (or a MoR source whose live rows are
    // not its raw files) take the copy path below.
    val zeroCopyRels =
      if (plan.deleteFiles.nonEmpty) None
      else {
        val rels = plan.dataFiles.map(f => repo.dataIO.relOf(f.path))
        if (rels.nonEmpty && rels.forall(_.isDefined))
          Some(rels.map(_.get))
        else None
      }
    val entries = zeroCopyRels match {
      case Some(rels) =>
        val hconf = spark.map(_.sessionState.newHadoopConf())
          .getOrElse(new org.apache.hadoop.conf.Configuration())
        // footer stats pass only (the cost any Iceberg catalog commit
        // pays per registered file); the rows are never read
        TableOps.entriesFromFootersLocal(repo, rels, plan.schema, hconf)
          .map(_.copy(seq = Some(1L)))
      case None =>
        val s = spark.getOrElse(throw new UnsupportedOperationException(
          "register-table of a foreign (or merge-on-read) source needs " +
            "the serving SparkSession: the table's live rows are copied " +
            "into the repo data plane with a distributed read"))
        val df = IcebergImport.readPlan(s, plan)
        TableOps.writeFiles(s, repo, df, key).map(_.copy(seq = Some(1L)))
    }
    repo.commitRetry(ref, s"rest: register $key " +
      s"(${entries.size} files, ${entries.map(_.rows).sum} rows " +
      s"from $metaLoc)") { base =>
      if (base.tables.contains(key))
        throw new RestConflict("AlreadyExistsException",
          s"table already exists: $key @ $ref")
      val snap = repo.writeSnapshot(key, plan.schema.json, entries,
        None, None, Some(Map(Tombstones.SeqProp -> "1")))
      (base.tables + (key -> snap.id),
        if (base.namespaces.contains(dirs.mkString("/"))) base.namespaces
        else base.namespaces + (dirs.mkString("/") -> Map.empty[String, String]))
    }
    loadResult(serve(repo, prefix, ref, key))
  }

  // ---- views (the spec's REST view API over graft's versioned views) ----

  private def resolveViewKey(repo: GraftRepo, ns: Seq[String],
      name: String): (String, String, ViewDef) = ns match {
    case ref +: dirs if dirs.nonEmpty && refNames(repo).contains(ref) =>
      val key = (dirs :+ name).mkString("/")
      repo.resolve(ref).viewMap.get(key) match {
        case Some(vd) => (ref, key, vd)
        case None => throw new NoSuchElementException(
          s"no such view: $key @ $ref")
      }
    case _ => throw new NoSuchElementException(
      s"no such view: ${(ns :+ name).mkString(".")}")
  }

  private def listViews(repo: GraftRepo, ns: Seq[String],
      rawQuery: Option[String]): ObjectNode =
    ns match {
      case ref +: dirs if refNames(repo).contains(ref) =>
        val o = mapper.createObjectNode()
        val arr = o.putArray("identifiers")
        val all = repo.resolve(ref).viewMap.keys.toSeq.sorted
          .map(_.split('/').toSeq)
          .filter(k => k.length == dirs.length + 1 && k.startsWith(dirs))
        val (page, next) = paginate(all, rawQuery)(_.mkString("/"))
        page.foreach { k =>
          val id = arr.addObject()
          val a = id.putArray("namespace"); ns.foreach(a.add)
          id.put("name", k.last)
        }
        next.foreach(o.put("next-page-token", _))
        o
      case _ => throwNoNs(ns)
    }

  /** LoadViewResult: real spec-shaped view metadata from the graft
    * [[ViewDef]] — ONE current version (graft versions views by branch
    * commit, so each served head has exactly one definition), the SQL
    * representation under the `spark` dialect it was authored in, the
    * Iceberg schema from the stored analyzed schema, and a
    * `default-namespace` whose BRANCH segment is the served ref (the
    * branch-rebinding semantics graft's own resolution applies —
    * a view read on `dev` resolves relative references on `dev`).
    * The metadata file is memoized per definition (content-hash name)
    * under the export root.
    */
  private def loadRestView(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], name: String): ObjectNode = {
    val (ref, key, vd) = resolveViewKey(repo, ns, name)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(vd.schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType]
    val dest = prefix.fold(exportRoot)(exportRoot.resolve)
      .resolve(ref).resolve(key)
    val meta = mapper.createObjectNode()
    meta.put("view-uuid", java.util.UUID.nameUUIDFromBytes(
      s"graft-view:${repo.root}:$ref:$key"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString)
    meta.put("format-version", 1)
    meta.put("location", dest.toAbsolutePath.normalize.toString)
    meta.put("current-version-id", 1)
    val ts = repo.resolve(ref).ts
    val ver = mapper.createObjectNode()
    ver.put("version-id", 1)
    ver.put("timestamp-ms", ts)
    ver.put("schema-id", 0)
    val sum = ver.putObject("summary")
    sum.put("engine-name", "graft")
    val reps = ver.putArray("representations")
    val rep = mapper.createObjectNode()
    rep.put("type", "sql"); rep.put("sql", vd.sql)
    rep.put("dialect", "spark")
    reps.add(rep)
    if (vd.catalog != null && vd.catalog.nonEmpty)
      ver.put("default-catalog", vd.catalog)
    val dns = ver.putArray("default-namespace")
    // creation-time namespace with the BRANCH segment rebound to the
    // served ref. Canonical storage is [repo, branch, db...] (native
    // createView and createRestView both write it), so two leading
    // segments go; a legacy entry written by an old no-prefix server as
    // [branch, db...] is detected by its ref-shaped head so the db path
    // survives either way (external engines resolve the view's relative
    // table references against this namespace — losing the db segment
    // strands them at [branch]). Legacy shape: head is a ref and the
    // SECOND segment is a db name, not a ref (a repo named like a
    // branch keeps the canonical [repo, branch, ...] reading because
    // its second segment IS a ref).
    // nsForm == 2 is the stored FORMAT MARKER (every current writer):
    // the shape is known canonical, no sniffing — immune to the edge
    // where a repo named like a live ref plus a since-deleted branch
    // segment would misread. Only pre-marker entries (nsForm 0) fall
    // back to the ref-shape heuristic, whose residual edge is accepted
    // and documented here.
    val lead =
      if (vd.nsForm == 2) 2
      else {
        val refs = refNames(repo)
        if (vd.namespace.length >= 2 &&
          refs.contains(vd.namespace.head) &&
          !refs.contains(vd.namespace(1))) 1 else 2
      }
    (ref +: vd.namespace.drop(lead)).foreach(dns.add)
    meta.set[ObjectNode]("versions", mapper.createArrayNode().add(ver))
    val vl = mapper.createArrayNode()
    val vle = mapper.createObjectNode()
    vle.put("timestamp-ms", ts); vle.put("version-id", 1)
    vl.add(vle)
    meta.set[ObjectNode]("version-log", vl)
    val schemaNode = mapper.readTree(
      IcebergExport.icebergSchemaJson(schema)).asInstanceOf[ObjectNode]
    schemaNode.put("schema-id", 0)
    meta.set[ObjectNode]("schemas", mapper.createArrayNode().add(schemaNode))
    val pr = meta.putObject("properties")
    vd.properties.foreach { case (k, v) => pr.put(k, v) }
    // memoized WRITE-ONCE per view DEFINITION (ts excluded from the
    // key): an unrelated branch commit bumps the head ts but must not
    // churn a new metadata file per commit — and the response body is
    // read back from the file, so metadata-location and metadata never
    // drift apart (first-serve ts is the version's stable timestamp)
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest((s"${vd.sql}|${vd.schemaJson}|${vd.catalog}|" +
        s"${vd.namespace.mkString(".")}|${vd.properties.toSeq.sorted}")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString
    val metaDir = dest.resolve("metadata")
    Files.createDirectories(metaDir)
    val metaPath = metaDir.resolve(s"view-$hash.metadata.json")
    if (!Files.exists(metaPath)) {
      val tmp = Files.createTempFile(metaDir, ".view", ".tmp")
      Files.write(tmp, mapper.writeValueAsBytes(meta))
      Files.move(tmp, metaPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val o = mapper.createObjectNode()
    o.put("metadata-location", metaPath.toString)
    o.set[ObjectNode]("metadata",
      mapper.readTree(Files.readString(metaPath)).asInstanceOf[ObjectNode])
    o.set[ObjectNode]("config", mapper.createObjectNode())
    o
  }

  /** CreateViewRequest → a graft versioned view: the `spark`-dialect
    * SQL representation (or the only one posted) becomes the stored
    * definition; concurrent creates race on the key inside
    * commitRetryViews and exactly one wins.
    */
  private def createRestView(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], req: com.fasterxml.jackson.databind.JsonNode)
      : ObjectNode = {
    val (ref, dirs) = ns match {
      case r +: ds if ds.nonEmpty => (r, ds)
      case _ => throw new IllegalArgumentException(
        s"views live under [ref, db...]: ${ns.mkString(".")}")
    }
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      if (repo.tagExists(ref)) s"views commit to a branch; $ref is a tag"
      else s"no such branch: $ref")
    val name = Option(req.get("name")).map(_.asText()).getOrElse(
      throw new IllegalArgumentException("create carries no view name"))
    val key = (dirs :+ name).mkString("/")
    val schemaNode = Option(req.get("schema")).getOrElse(
      throw new IllegalArgumentException("create carries no schema"))
    val schema = IcebergImport.structOf(schemaNode)
    val vv = Option(req.get("view-version")).getOrElse(
      throw new IllegalArgumentException("create carries no view-version"))
    val reps = Option(vv.get("representations")).toSeq
      .flatMap(_.elements().asScala).toSeq
    val rep = reps.find(r => Option(r.get("dialect"))
        .exists(_.asText() == "spark"))
      .orElse(reps.headOption).getOrElse(
        throw new IllegalArgumentException(
          "view-version carries no SQL representation"))
    val sql = Option(rep.get("sql")).map(_.asText()).getOrElse(
      throw new IllegalArgumentException("representation carries no sql"))
    val dcat = Option(vv.get("default-catalog")).map(_.asText()).getOrElse("")
    val dns = Option(vv.get("default-namespace")).toSeq
      .flatMap(_.elements().asScala).map(_.asText()).toSeq
    // store the graft-shaped resolution context: [repo, branch, db...]
    // (the branch segment rebinds to the reading branch at load).
    // CANONICAL SHAPE: a single-repo (no-prefix) server still records a
    // repo segment (the repo root's directory name) so consumers that
    // strip [repo, branch] never eat a db segment by mistake.
    val repoSeg = prefix.getOrElse(repo.root.getFileName.toString)
    val nsStored = Seq(repoSeg, ref) ++
      (if (dns.nonEmpty && refNames(repo).contains(dns.head)) dns.tail
       else dns)
    val props = Option(req.get("properties")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    val vd = ViewDef(sql = sql, catalog = dcat,
      namespace = nsStored, schemaJson = schema.json,
      properties = props, nsForm = 2)
    repo.commitRetryViews(ref, s"rest: create view $key") { base =>
      if (base.viewMap.contains(key) || base.tables.contains(key))
        throw new RestConflict("AlreadyExistsException",
          s"view already exists: $key @ $ref")
      base.viewMap + (key -> vd)
    }
    loadRestView(repo, prefix, ns, name)
  }

  /** UpdateViewRequest (the engine's CREATE OR REPLACE VIEW): the
    * posted `add-view-version` becomes the view's NEW definition in one
    * view commit — prior definitions stay reachable through the branch
    * history like every graft change. Requirements: `assert-view-uuid`
    * validates against the served identity.
    */
  private def replaceRestView(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], name: String,
      req: com.fasterxml.jackson.databind.JsonNode): ObjectNode = {
    val (ref, key, _) = resolveViewKey(repo, ns, name)
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      s"view commits target a branch; $ref is a tag")
    Option(req.get("requirements")).toSeq
      .flatMap(_.elements().asScala).foreach { r =>
        text(r, "type") match {
          case "assert-view-uuid" =>
            val want = text(r, "uuid")
            val have = java.util.UUID.nameUUIDFromBytes(
              s"graft-view:${repo.root}:$ref:$key"
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
            if (want != have) throw new RestConflict("CommitFailedException",
              s"view uuid changed: expected $want, found $have")
          case other => throw new UnsupportedOperationException(
            s"unsupported view commit requirement: $other")
        }
      }
    var vvNode: Option[com.fasterxml.jackson.databind.JsonNode] = None
    var schemaNode: Option[com.fasterxml.jackson.databind.JsonNode] = None
    var setProps = Map.empty[String, String]
    var removeProps = Set.empty[String]
    Option(req.get("updates")).toSeq
      .flatMap(_.elements().asScala).foreach { u =>
        text(u, "action") match {
          case "assign-uuid" | "upgrade-format-version" |
               "set-location" | "set-current-view-version" => ()
          case "add-schema" =>
            schemaNode = Some(Option(u.get("schema")).getOrElse(
              throw new IllegalArgumentException(
                "add-schema carries no schema")))
          case "add-view-version" =>
            if (vvNode.isDefined) throw new UnsupportedOperationException(
              "one add-view-version per commit")
            vvNode = Some(Option(u.get("view-version")).getOrElse(
              throw new IllegalArgumentException(
                "add-view-version carries no view-version")))
          case "set-properties" =>
            setProps ++= Option(u.get("updates")).toSeq
              .flatMap(_.fields().asScala)
              .map(e => e.getKey -> e.getValue.asText())
          case "remove-properties" =>
            removeProps ++= Option(u.get("removals")).toSeq
              .flatMap(_.elements().asScala).map(_.asText())
          case other => throw new UnsupportedOperationException(
            s"unsupported view update over REST: $other")
        }
      }
    repo.commitRetryViews(ref, s"rest: replace view $key") { base =>
      val cur = base.viewMap.getOrElse(key,
        throw new NoSuchElementException(s"no such view: $key @ $ref"))
      val next = vvNode match {
        case None => // properties-only commit
          cur.copy(properties = (cur.properties -- removeProps) ++ setProps)
        case Some(vv) =>
          val reps = Option(vv.get("representations")).toSeq
            .flatMap(_.elements().asScala).toSeq
          val rep = reps.find(r => Option(r.get("dialect"))
              .exists(_.asText() == "spark"))
            .orElse(reps.headOption).getOrElse(
              throw new IllegalArgumentException(
                "view-version carries no SQL representation"))
          val sql = Option(rep.get("sql")).map(_.asText()).getOrElse(
            throw new IllegalArgumentException(
              "representation carries no sql"))
          val schema = schemaNode.map(IcebergImport.structOf)
            .map(_.json).getOrElse(cur.schemaJson)
          val dns = Option(vv.get("default-namespace")).toSeq
            .flatMap(_.elements().asScala).map(_.asText()).toSeq
          val nsStored =
            if (dns.isEmpty) cur.namespace
            else Seq(prefix.getOrElse(repo.root.getFileName.toString),
              ref) ++
              (if (refNames(repo).contains(dns.head)) dns.tail else dns)
          cur.copy(sql = sql, schemaJson = schema, namespace = nsStored,
            // a posted default-namespace rewrites the stored shape
            // canonically; absent, the prior entry's shape (and its
            // marker) carry over unchanged
            nsForm = if (dns.isEmpty) cur.nsForm else 2,
            catalog = Option(vv.get("default-catalog")).map(_.asText())
              .getOrElse(cur.catalog),
            queryColumnNames = Nil, columnAliases = Nil,
            columnComments = Nil,
            properties = (cur.properties -- removeProps) ++ setProps)
      }
      base.viewMap + (key -> next)
    }
    loadRestView(repo, prefix, ns, name)
  }

  private def dropRestView(repo: GraftRepo, ns: Seq[String],
      name: String): Unit = {
    val (ref, key, _) = resolveViewKey(repo, ns, name)
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      s"drops commit to a branch; $ref is a tag")
    repo.commitRetryViews(ref, s"rest: drop view $key") { base =>
      if (!base.viewMap.contains(key))
        throw new NoSuchElementException(s"no such view: $key @ $ref")
      base.viewMap - key
    }
  }

  /** DropNamespaceRequest (spec: DELETE, non-empty → 409): a 1-level
    * namespace is a BRANCH (dropped only when its head holds no tables
    * or views — reference parity, LakeFSCatalog.java:312); deeper
    * levels drop a db namespace on the branch, tables AND views
    * counting as content (the same ghost-view guard native DROP
    * NAMESPACE applies).
    */
  private def dropRestNamespace(repo: GraftRepo, ns: Seq[String]): Unit =
    ns match {
      case Seq(ref) =>
        if (repo.tagExists(ref)) throw new IllegalArgumentException(
          s"$ref is a tag — delete it with the graft tag API, not " +
            "namespace drop")
        if (!repo.branchExists(ref))
          throw new NoSuchElementException(s"no such namespace: $ref")
        val h = repo.headCommit(ref)
        if (h.tables.nonEmpty || h.viewMap.nonEmpty)
          throw new RestConflict("NamespaceNotEmptyException",
            s"branch $ref still holds ${h.tables.size} table(s) and " +
              s"${h.viewMap.size} view(s)")
        repo.dropBranch(ref)
      case ref +: dirs =>
        if (!repo.branchExists(ref)) throw new IllegalArgumentException(
          if (repo.tagExists(ref)) s"namespaces commit to a branch; $ref is a tag"
          else s"no such branch: $ref")
        val db = dirs.mkString("/")
        val h = repo.headCommit(ref)
        if (!h.namespaces.contains(db) &&
            !h.tables.keys.exists(_.startsWith(db + "/")) &&
            !h.viewMap.keys.exists(_.startsWith(db + "/")))
          throw new NoSuchElementException(
            s"no such namespace: ${ns.mkString(".")}")
        if (h.tables.keys.exists(_.startsWith(db + "/")) ||
            h.viewMap.keys.exists(_.startsWith(db + "/")))
          throw new RestConflict("NamespaceNotEmptyException",
            s"namespace $db still holds tables or views")
        repo.commitRetryAll(ref, s"rest: drop namespace $db") { base =>
          (base.tables, base.namespaces - db, base.viewMap)
        }
      case _ => throw new NoSuchElementException("empty namespace")
    }

  /** UpdateNamespacePropertiesRequest → one property commit; answers
    * the spec's {updated, removed, missing} triple. Only db-level
    * namespaces carry properties (native parity: branch namespaces
    * describe the ref itself).
    */
  private def updateNamespaceProps(repo: GraftRepo, ns: Seq[String],
      req: com.fasterxml.jackson.databind.JsonNode): ObjectNode = {
    val (ref, dirs) = ns match {
      case r +: ds if ds.nonEmpty => (r, ds)
      case _ => throw new UnsupportedOperationException(
        "only db-level namespaces carry properties (a 1-level " +
          "namespace is the branch itself)")
    }
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      if (repo.tagExists(ref)) s"namespaces commit to a branch; $ref is a tag"
      else s"no such branch: $ref")
    val db = dirs.mkString("/")
    val removals = Option(req.get("removals")).toSeq
      .flatMap(_.elements().asScala).map(_.asText()).toSeq
    val updates = Option(req.get("updates")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    val overlap = removals.toSet.intersect(updates.keySet)
    if (overlap.nonEmpty) throw new IllegalArgumentException(
      s"properties both removed and updated: ${overlap.mkString(", ")}")
    var missing = Seq.empty[String]
    repo.commitRetry(ref, s"rest: update namespace properties $db") { base =>
      // views prove existence too (dropRestNamespace already counts
      // them as content): a db holding only REST-created views must
      // answer a properties update, not 404
      if (!base.namespaces.contains(db) &&
          !base.tables.keys.exists(_.startsWith(db + "/")) &&
          !base.viewMap.keys.exists(_.startsWith(db + "/")))
        throw new NoSuchElementException(
          s"no such namespace: ${ns.mkString(".")}")
      val cur = base.namespaces.getOrElse(db, Map.empty)
      missing = removals.filterNot(cur.contains)
      (base.tables,
        base.namespaces + (db -> ((cur -- removals) ++ updates)))
    }
    val o = mapper.createObjectNode()
    val up = o.putArray("updated"); updates.keys.toSeq.sorted.foreach(up.add)
    val rm = o.putArray("removed")
    removals.filterNot(missing.contains).foreach(rm.add)
    val ms = o.putArray("missing"); missing.foreach(ms.add)
    o
  }

  /** DropTableRequest; `purge` mirrors the engine catalog's
    * `purgeTable` (files referenced by no other live head deleted). */
  /** POST /tables/rename — the engine catalog's metadata-only commit-map
    * re-key served over REST (the reference throws here,
    * LakeFSCatalog.java:218, because its table identity is a storage
    * path; graft's is a commit-map key). Same-branch only: a
    * cross-branch rename would alias one table's snapshots into another
    * line of history. One commit moves the key; no file or snapshot
    * object is touched, and pre-rename commits still serve the old
    * name.
    */
  private def renameRestTable(repo: GraftRepo,
      b: com.fasterxml.jackson.databind.JsonNode): Unit = {
    def ident(field: String): (Seq[String], String) = {
      val n = Option(b.get(field)).getOrElse(throw new IllegalArgumentException(
        s"rename request needs source and destination; missing: $field"))
      val ns = Option(n.get("namespace"))
        .map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Seq.empty)
      (ns, Option(n.get("name")).map(_.asText()).getOrElse(
        throw new IllegalArgumentException(s"$field.name is required")))
    }
    val (sns, sname) = ident("source")
    val (dns, dname) = ident("destination")
    val (ref, oldKey) = resolveKey(repo, sns, sname)
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      s"renames commit to a branch; $ref is a tag")
    if (dns.size < 2 || dns.head != ref)
      throw new UnsupportedOperationException(
        "rename across branches is not supported — tables are versioned " +
          s"per branch (source @ $ref, destination @ " +
          s"${dns.headOption.getOrElse("?")})")
    val newKey = (dns.drop(1) :+ dname).mkString("/")
    if (newKey == oldKey) return
    repo.commitRetry(ref, s"rest: rename table $oldKey to $newKey") { base =>
      val snapId = base.tables.getOrElse(oldKey,
        throw new NoSuchElementException(s"no such table: $oldKey @ $ref"))
      if (base.tables.contains(newKey))
        throw new RestConflict("AlreadyExistsException",
          s"table already exists: $newKey @ $ref")
      if (base.viewMap.contains(newKey))
        throw new RestConflict("AlreadyExistsException",
          s"view already exists: $newKey @ $ref")
      // implicit db namespace for the destination, like createTable and
      // the engine catalog's rename — without it, namespace-walking
      // clients (SHOW NAMESPACES) never discover the renamed table
      val dbNs = dns.drop(1).mkString("/")
      (base.tables - oldKey + (newKey -> snapId),
        if (base.namespaces.contains(dbNs)) base.namespaces
        else base.namespaces + (dbNs -> Map.empty[String, String]))
    }
    ()
  }

  private def dropTable(repo: GraftRepo, ns: Seq[String], name: String,
      purge: Boolean): Unit = {
    val (ref, key) = resolveKey(repo, ns, name)
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      s"drops commit to a branch; $ref is a tag")
    val victim = repo.snapshot(repo.resolve(ref).tables(key))
    repo.commitRetry(ref, s"rest: drop table $key") { base =>
      if (!base.tables.contains(key))
        throw new NoSuchElementException(s"no such table: $key @ $ref")
      (base.tables - key, base.namespaces)
    }
    if (purge) {
      // ALL tables at ALL live heads: zero-copy clones (and zero-copy
      // REST registrations) share the victim's exact file paths under
      // other keys — same all-referents invariant as the engine purge
      val liveHeads = repo.branches.map(repo.headCommit) ++
        repo.tags.map(repo.resolve)
      val stillReferenced = liveHeads
        .flatMap(_.tables.values).distinct.map(repo.snapshot)
        .flatMap(_.files).map(_.path).toSet
      victim.files.filterNot(f => stillReferenced.contains(f.path))
        .foreach { f =>
          repo.dataIO.delete(f.path)
          repo.dataIO.delete(f.path + ".bloom")
        }
    }
  }

  // ---- plumbing ----------------------------------------------------------

  // ---- OAuth2 client_credentials (the spec's token endpoint) -------------

  private def ctEq(a: String, b: String): Boolean =
    java.security.MessageDigest.isEqual(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def bearerOf(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Authorization")).map(_.trim)
      .filter(h => h.length > 7 &&
        h.substring(0, 7).equalsIgnoreCase("Bearer "))
      .map(_.substring(7).trim)

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** A minted token is valid while unexpired; an expired one is evicted
    * on sight, so a replay after expiry 401s exactly like a wrong
    * static token.
    */
  private def mintedValid(t: String): Boolean = {
    val key = sha256Hex(t)
    Option(mintedTokens.get(key)).exists { exp =>
      val live = System.currentTimeMillis() < exp
      if (!live) mintedTokens.remove(key)
      live
    }
  }

  /** The Iceberg REST spec's OAuth2 token endpoint
    * (`POST /v1/oauth/tokens`, form-encoded OAuthTokenRequest): an
    * engine configured with `credential = "<id>:<secret>"` exchanges it
    * here for a short-lived bearer before touching any catalog route —
    * the flow iceberg-core's OAuth2Util / PyIceberg run when given a
    * `credential` instead of a static `token`. Only the
    * `client_credentials` grant is supported; errors answer the OAuth
    * error shape (`{"error", "error_description"}` — RFC 6749 §5.2),
    * NOT the catalog ErrorResponse, because that is what OAuth clients
    * parse. The minted token answers `expires_in` = `oauthTtlSec`.
    */
  private def handleOauth(ex: HttpExchange): Unit = {
    def err(code: Int, e: String, desc: String): Unit = {
      val o = mapper.createObjectNode()
      o.put("error", e); o.put("error_description", desc)
      reply(ex, code, o)
    }
    val raw = new String(ex.getRequestBody.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val form = raw.split("&").iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else
        (kv.substring(0, i), kv.substring(i + 1))
      java.net.URLDecoder.decode(k, "UTF-8") ->
        java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
    if (credential.isEmpty)
      err(401, "invalid_client",
        "this server exchanges no client credentials (start it with " +
          "the `credential` option, or present the static bearer token)")
    else if (!form.get("grant_type").contains("client_credentials"))
      err(400, "unsupported_grant_type",
        "only grant_type=client_credentials is supported")
    else if (!credential.exists(c => ctEq(
      form.getOrElse("client_id", "") + ":" +
        form.getOrElse("client_secret", ""), c)))
      err(401, "invalid_client", "unknown client_id or wrong secret")
    else {
      val now = System.currentTimeMillis()
      mintedTokens.entrySet().removeIf(e => e.getValue <= now)
      val buf = new Array[Byte](32)
      tokenRng.nextBytes(buf)
      val tok = buf.map("%02x".format(_)).mkString
      mintedTokens.put(sha256Hex(tok), now + oauthTtlSec * 1000L)
      val o = mapper.createObjectNode()
      o.put("access_token", tok)
      o.put("token_type", "bearer")
      o.put("expires_in", oauthTtlSec)
      o.put("issued_token_type",
        "urn:ietf:params:oauth:token-type:access_token")
      reply(ex, 200, o)
    }
  }

  private def reply(ex: HttpExchange, code: Int, body: ObjectNode): Unit = {
    val bytes = mapper.writeValueAsBytes(body)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    if (ex.getRequestMethod == "HEAD") { // a HEAD response has no body
      ex.sendResponseHeaders(code, -1)
    } else {
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
    }
    ex.close()
  }

  /** Spec ErrorResponse: `{"error": {message, type, code}}`. */
  private def replyError(ex: HttpExchange, code: Int, typ: String,
      msg: String): Unit = {
    val o = mapper.createObjectNode()
    val e = o.putObject("error")
    e.put("message", msg); e.put("type", typ); e.put("code", code)
    reply(ex, code, o)
  }
}

/** 409-mapped failures: a commit requirement that stopped holding, or
  * create-on-existing. `typ` is the spec error type the client's
  * exception mapper keys on.
  */
private final class RestConflict(val typ: String, msg: String)
  extends RuntimeException(msg)

object IcebergRestServer {

  /** The Iceberg schema id an engine gave the current schema when it
    * added it inside a transaction (engine state, never served). The
    * export serves every current schema as id 0, and the single-table
    * route hands that metadata back; a transaction answers 204 without
    * metadata, so an engine may go on posting its own id. The record
    * names the graft schema it was made for and lapses once anything
    * changes the schema. */
  private val SchemaIdProp = "graft.rest.schema-id"
  private def schemaIdRecord(id: Int, schemaJson: String): String =
    s"$id:${Integer.toHexString(schemaJson.hashCode)}"

  /** A posted commit requirement, typed. */
  private sealed trait Requirement
  private case object AssertCreate extends Requirement
  private final case class AssertUuid(uuid: String) extends Requirement
  private final case class AssertRef(ref: String, snapshotId: Option[Long])
    extends Requirement
  /** An integer field of the served metadata (`field`, absent =
    * `default`) must still read `want`. */
  private final case class AssertField(field: String, default: Int,
      what: String, want: Int) extends Requirement

  /** One posted TableChange, parsed once for every route. */
  private final case class Change(ref: String, dirs: Seq[String],
      key: String, create: Boolean, reqs: Seq[Requirement],
      snapshot: Option[JsonNode] = None, schema: Option[JsonNode] = None,
      currentSchema: Option[Int] = None, spec: Option[JsonNode] = None,
      defaultSpec: Boolean = false, mainRef: Option[Long] = None,
      tagCreate: Option[(String, Long)] = None,
      tagRemove: Option[String] = None,
      setProps: Map[String, String] = Map.empty,
      removeProps: Set[String] = Set.empty,
      formatVersion: Option[Int] = None, uuid: Option[String] = None,
      location: Boolean = false, advisory: Boolean = false) {
    def props: Boolean = setProps.nonEmpty || removeProps.nonEmpty
    /** Only updates that validate to no-ops: advisory ones, the served
      * format version or uuid, or a ref set to the current snapshot. */
    def noOps: Boolean =
      advisory || formatVersion.isDefined || uuid.isDefined || mainRef.isDefined
  }

  /** The served metadata a change validates against. `pin` re-checks it
    * INSIDE the commit race: a branch that moved since the served base
    * answers 409, the client's signal to refresh and retry. */
  private final case class Served(ref: String, key: String, path: Path,
      meta: JsonNode, graftSnap: String, snapId: Option[Long],
      schemaId: Int) {
    def pin(b: Commit): Unit =
      if (!b.tables.get(key).contains(graftSnap))
        throw new RestConflict("CommitFailedException",
          s"branch $ref moved since the served base of $key — refresh " +
            "and retry")
  }

  /** A validated change. `only` names a member kind that cannot share
    * its commit; `stage` does the member's expensive work. */
  private final case class Member(only: Option[String], stage: () => Staged)

  /** A staged member. `fold` runs inside the one commitRetry and maps
    * the folded table map to include this member; a member that
    * `writes` nothing only re-checks its base there (a validated no-op;
    * no commit is made when no member writes). */
  private final case class Staged(key: String, message: String,
      writes: Boolean,
      fold: (Commit, Map[String, String]) => Map[String, String],
      marker: Option[String] = None, namespace: Option[String] = None)

  /** Start serving ONE `repo` on 127.0.0.1:`port` (0 = ephemeral; read
    * the bound port back from [[IcebergRestServer.port]]). `exportRoot`
    * holds the on-demand per-(ref, table) Iceberg export dests — give a
    * persistent path to keep exports warm across server restarts.
    * `maxSnapshots` / `formatVersion` pass through to
    * [[IcebergExport.export]] (history depth; 0 = auto format).
    */
  def start(repo: GraftRepo, exportRoot: Path,
      spark: Option[SparkSession] = None, port: Int = 0,
      maxSnapshots: Int = 1, formatVersion: Int = 0,
      writable: Boolean = false,
      token: Option[String] = None,
      credential: Option[String] = None,
      oauthTtlSec: Long = 3600L): IcebergRestServer =
    boot(Some(repo), None, exportRoot, spark, port, maxSnapshots,
      formatVersion, writable, token, credential, oauthTtlSec)

  /** Start serving EVERY repo under `reposRoot` (a graft catalog root:
    * each child dir with a `refs/` dir is a repo), routed by the spec's
    * `{prefix}` segment — `/v1/<repo>/namespaces/...`. Clients discover
    * their prefix the spec way: `GET /v1/config?warehouse=<repo>`
    * answers `{"overrides": {"prefix": "<repo>"}}`. Repos created after
    * the server started are served on first touch (no restart).
    */
  def startWarehouse(reposRoot: Path, exportRoot: Path,
      spark: Option[SparkSession] = None, port: Int = 0,
      maxSnapshots: Int = 1, formatVersion: Int = 0,
      writable: Boolean = false,
      token: Option[String] = None,
      credential: Option[String] = None,
      oauthTtlSec: Long = 3600L): IcebergRestServer =
    boot(None, Some(reposRoot), exportRoot, spark, port, maxSnapshots,
      formatVersion, writable, token, credential, oauthTtlSec)

  private def boot(single: Option[GraftRepo], reposRoot: Option[Path],
      exportRoot: Path, spark: Option[SparkSession], port: Int,
      maxSnapshots: Int, formatVersion: Int,
      writable: Boolean, token: Option[String],
      credential: Option[String], oauthTtlSec: Long): IcebergRestServer = {
    credential.foreach(c => require(c.contains(":"),
      "credential must be \"client_id:client_secret\""))
    require(oauthTtlSec > 0, "oauthTtlSec must be positive")
    Files.createDirectories(exportRoot)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val srv = new IcebergRestServer(single, reposRoot, exportRoot, spark,
      maxSnapshots, formatVersion, writable, token, credential, oauthTtlSec,
      server)
    server.createContext("/", (ex: HttpExchange) => srv.handle(ex))
    server.setExecutor(Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-rest-catalog"); t.setDaemon(true); t
    }))
    server.start()
    srv
  }
}
