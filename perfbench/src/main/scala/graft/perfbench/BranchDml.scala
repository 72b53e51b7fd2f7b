package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

import graft.operators.Similarity
import graft.versioned.{GraftRepo, TableOps}

/** `branch_dml`: the branch → DML → merge contract, one client in a
  * closed loop. Each cycle branches `a_k` and `b_k` off `main`, runs CoW
  * DML (key DELETE, key-range UPDATE, MERGE upsert) on bucket-partitioned
  * `orders` and a DELETE on a merge-on-read table on `a_k`, INSERTs a
  * `lineitem` batch on `b_k` (plus an ANN index append every sixth
  * cycle), merges both into `main`, checks `main` against the
  * benchmark's own model and drops the branches; after an ANN append the
  * merged index is probed with a query batch and its recall@10 checked
  * against a brute-force top-10. Every sixth cycle compacts, expires and
  * vacuums `main`.
  */
object BranchDml {
  private final class Model(os: Seq[Order], ls: Seq[Line], ev: Seq[Long],
      corpus: Seq[(Long, Array[Double])]) {
    val orders: mutable.LinkedHashMap[Long, Order] = mutable.LinkedHashMap.from(os.map(o => o.key -> o))
    val keys: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.from(os.map(_.key))
    var lineCount: Long = ls.size.toLong
    var lineCheck: Long = ls.map(_.check).sum
    val events: mutable.Set[Long] = mutable.Set.from(ev)
    val vectors: mutable.ArrayBuffer[(Long, Array[Double])] = mutable.ArrayBuffer.from(corpus)
    var nextOrder: Long = os.map(_.key).max + 1
    var nextLineOrder: Long = 50000000L
    var nextVec: Long = 5000000L

    def removeKey(k: Long): Unit = {
      orders.remove(k)
      val i = keys.indexOf(k)
      if (i >= 0) { keys(i) = keys.last; keys.remove(keys.size - 1) }
    }
    def put(o: Order): Unit = {
      if (!orders.contains(o.key)) keys += o.key
      orders(o.key) = o
    }
    def orderCount: Long = orders.size.toLong
    def orderCheck: Long = orders.valuesIterator.map(_.check).sum
    def evCheck: Long = events.iterator.map(id => Math.floorMod(id * 1000003L + id % 97, Data.P)).sum
  }

  private def api[A](name: String)(f: => A): A = Trace.span("versioned.api", name)(f)

  def run(a: Args, res: Results, spark: SparkSession, catRoot: Path): Measured = {
    val nOrders = if (a.tiny) 1500 else 12000
    val nEv = if (a.tiny) 1000 else 8000
    val nVec = if (a.tiny) 300 else 500
    val orders = Data.orders(a.seed, 1L, 1 to nOrders)
    val lines = Data.lines(a.seed, 2L, orders.map(_.key))
    val evIds = (1L to nEv.toLong)
    val corpus = Data.vectors(a.seed, 3L, (1L to nVec.toLong))
    val ordersDf = Data.ordersDf(spark, orders)
    val linesDf = Data.linesDf(spark, lines)
    import spark.implicits._
    val evDf = evIds.map(id => (id, (id % 97).toInt)).toDF("id", "v")
    val corpusDf = Data.vectorsDf(spark, corpus)

    def build(r: String): GraftRepo = {
      spark.sql(s"CREATE NAMESPACE g.$r")
      spark.sql(s"CREATE NAMESPACE g.$r.main.db")
      spark.sql(s"CREATE TABLE g.$r.main.db.orders (${Data.orderCols}) " +
        "PARTITIONED BY (bucket(8, o_orderkey))")
      spark.sql(s"CREATE TABLE g.$r.main.db.lineitem (${Data.lineCols})")
      spark.sql(s"CREATE TABLE g.$r.main.db.ev (id BIGINT, v INT) " +
        "TBLPROPERTIES ('graft.delete.mode'='merge-on-read')")
      ordersDf.writeTo(s"g.$r.main.db.orders").append()
      linesDf.writeTo(s"g.$r.main.db.lineitem").append()
      evDf.writeTo(s"g.$r.main.db.ev").append()
      GraftRepo.open(catRoot.resolve(r), BenchIO.io)
    }
    val repo = Setup.repeat(res, if (a.tiny) 2 else 3)(i => build(s"bd$i"))
    val r = repo.root.getFileName.toString
    // the ANN index is built once, on the measured repo: three index
    // builds per run would cost more than the measured window
    val t0 = System.nanoTime()
    spark.sql(s"CREATE NAMESPACE g.$r.main.ann")
    Similarity.annIndexInit(spark, "g", repo, "main", corpusDf)
    res.info("ann_init_s") = (System.nanoTime() - t0) / 1e9
    val model = new Model(orders, lines, evIds, corpus)
    val rnd = Data.rng(a.seed, 11L)
    val sp = Some(spark)
    var planted = a.plantWrong
    val liveAfterMaint = mutable.ArrayBuffer.empty[Long]
    val queries = Data.vectors(a.seed, 12L, (1L to 16L))
    val queryDf = Data.vectorsDf(spark, queries, "query_id", "qv")
      .withColumn("qn", expr("sqrt(aggregate(qv, 0D, (acc, x) -> acc + x * x))"))
    val RecallFloor = 0.5

    def sql(q: String): Unit = { spark.sql(q); () }
    /** One SELECT checks all three tables of `main` against the model. */
    def checkMain(): Boolean = {
      val rows = spark.sql(
        s"SELECT 'orders', ${Data.orderCheckSql} FROM g.$r.main.db.orders UNION ALL " +
          s"SELECT 'lineitem', ${Data.lineCheckSql} FROM g.$r.main.db.lineitem UNION ALL " +
          "SELECT 'ev', count(*), coalesce(sum(pmod(id * 1000003 + v, 1000000007)), 0) " +
          s"FROM g.$r.main.db.ev").collect()
      Trace.count("bench.rows_returned", rows.length.toLong)
      val got = rows.map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
      val want = Map("orders" -> ((model.orderCount, model.orderCheck + (if (planted) 1 else 0))),
        "lineitem" -> ((model.lineCount, model.lineCheck)),
        "ev" -> ((model.events.size.toLong, model.evCheck)))
      planted = false
      got == want
    }

    // a round is six cycles (one with an ANN append) and a maintenance
    // pass; the budget is checked between rounds, so every run measures
    // whole rounds of the same composition
    var out = new Results
    var k = 1
    def cycle(): Unit = {
      val (ak, bk) = (s"a$k", s"b$k")
      out.run(sp, "branch")(api("createBranch")(repo.createBranch(ak, "main")))(_ => true)
      out.run(sp, "branch")(api("createBranch")(repo.createBranch(bk, "main")))(_ => true)

      // key DELETE
      val dk = model.keys(rnd.nextInt(model.keys.size))
      out.run(sp, "dml")(sql(s"DELETE FROM g.$r.$ak.db.orders WHERE o_orderkey = $dk"))(_ => true)
        .foreach(_ => model.removeKey(dk))
      // key-range UPDATE
      val lo = 1L + rnd.nextInt(model.nextOrder.toInt)
      val hi = lo + 40
      val d = 1 + rnd.nextInt(1000)
      out.run(sp, "dml")(sql(s"UPDATE g.$r.$ak.db.orders SET o_totalprice = o_totalprice + $d, " +
        s"o_status = (o_status + 1) % 3 WHERE o_orderkey BETWEEN $lo AND $hi"))(_ => true)
        .foreach { _ =>
          (lo to hi).foreach(key => model.orders.get(key).foreach(o =>
            model.put(o.copy(price = o.price + d, status = (o.status + 1) % 3))))
        }
      // MERGE upsert: half existing keys, half fresh
      val matched = rnd.ints(0, model.keys.size).distinct().limit(8).toArray.map(model.keys(_)).toSeq
      val fresh = (0 until 8).map(i => model.nextOrder + i)
      val src = (matched ++ fresh).map(key => Data.order(rnd, key))
      out.run(sp, "dml")(sql(s"MERGE INTO g.$r.$ak.db.orders t USING (SELECT * FROM VALUES " +
        src.map(o => s"(${o.key}L, ${o.cust}, ${o.status}, ${o.region}, ${o.day}, ${o.price}L)").mkString(", ") +
        " AS s(k, c, st, rg, dy, p)) s ON t.o_orderkey = s.k " +
        "WHEN MATCHED THEN UPDATE SET o_totalprice = s.p " +
        "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_status, o_region, o_day, o_totalprice) " +
        "VALUES (s.k, s.c, s.st, s.rg, s.dy, s.p)"))(_ => true)
        .foreach { _ =>
          src.foreach(o => model.orders.get(o.key) match {
            case Some(old) => model.put(old.copy(price = o.price))
            case None => model.put(o)
          })
          model.nextOrder += fresh.size
        }
      // merge-on-read DELETE
      val e0 = 1L + rnd.nextInt(nEv)
      out.run(sp, "dml")(sql(s"DELETE FROM g.$r.$ak.db.ev WHERE id BETWEEN $e0 AND ${e0 + 15}"))(_ => true)
        .foreach(_ => (e0 to e0 + 15).foreach(model.events.remove))

      // b_k: INSERT a lineitem batch (+ an ANN append every sixth cycle)
      val batchKeys = (0 until 25).map(i => model.nextLineOrder + i)
      val batch = Data.lines(a.seed, 1000L + k, batchKeys)
      out.run(sp, "dml")(sql(s"INSERT INTO g.$r.$bk.db.lineitem VALUES " +
        batch.map(l => s"(${l.order}L, ${l.num}, ${l.part}, ${l.qty}, ${l.price}L, ${l.day})").mkString(", ")))(_ => true)
        .foreach { _ =>
          model.nextLineOrder += batchKeys.size
          model.lineCount += batch.size; model.lineCheck += batch.map(_.check).sum
        }
      val annThisCycle = k % 6 == 1
      if (annThisCycle) {
        val ids = (0 until 32).map(i => model.nextVec + i)
        val vs = Data.vectors(a.seed, 2000L + k, ids)
        out.run(sp, "ann_append")(Trace.span("operators", "annIndexAppend")(
          Similarity.annIndexAppend(spark, "g", repo, bk, Data.vectorsDf(spark, vs))))(_ => true)
          .foreach { _ => model.nextVec += ids.size; model.vectors ++= vs }
      }

      // merge a_k (fast-forward), then b_k (table-level three-way)
      out.run(sp, "merge")(api("merge")(repo.merge(ak, "main")))(_ => true)
      out.run(sp, "merge")(api("merge")(repo.merge(bk, "main")))(_ => true)

      // main against the model
      out.run(sp, "read")(checkMain())(identity)
      if (annThisCycle) {
        out.run(sp, "ann_check")(spark.sql(s"SELECT count(*) FROM g.$r.main.ann.vectors").collect().head.getLong(0))(
          _ == model.vectors.size)
        // top-10 of a query batch over the merged index, appended vectors
        // included, against a brute-force top-10 of the model's vectors
        out.run(sp, "ann_probe") {
          Trace.span("operators", "annIndexProbe")(
            Similarity.annIndexProbe(spark, "g", r, "main", queryDf, topK = 10)
              .select("query_id", "neighbor_id").collect().toSeq)
        } { hits =>
          val got = hits.groupBy(_.getLong(0)).map { case (q, hs) => q -> hs.map(_.getLong(1)).toSet }
          val hit = queries.map { case (q, v) =>
            (got.getOrElse(q, Set.empty) intersect Data.bruteTopK(model.vectors.toSeq, v, 10).toSet).size
          }.sum
          val total = queries.size * 10
          Trace.count("bench.ann_hits", hit.toLong); Trace.count("bench.ann_truth", total.toLong)
          hit.toDouble / total >= RecallFloor
        }
      }

      out.run(sp, "branch")(api("dropBranch")(repo.dropBranch(ak)))(_ => true)
      out.run(sp, "branch")(api("dropBranch")(repo.dropBranch(bk)))(_ => true)

      k += 1
    }
    def maintain(): Unit = {
      out.run(sp, "maint") {
        Trace.span("versioned.api", "compact") {
          // every table a cycle appends to, the ANN drift log included
          Seq("db/orders", "db/lineitem", "db/ev", "ann/drift").foreach(t => TableOps.compact(spark, repo, "main", t))
          Similarity.annIndexCompact(spark, repo, "main")
        }
        api("expireSnapshots")(repo.expireSnapshots(0L))
      }(_ => true)
      liveAfterMaint += Measured.liveFiles(repo)._1
    }
    // warm-up, not measured: one cycle with an ANN append (k = 1) and
    // one maintenance pass, so the measured rounds run warm code; the
    // measured cycles are k = 2, 3, ..., so each round's last cycle
    // appends to the ANN index
    cycle(); maintain()
    res.absorbFailures(out)
    out = res
    val start = Measured.begin(res, repo.root)
    val budget = new Budget(a, 1)
    while (budget.more()) {
      (1 to 6).foreach(_ => cycle())
      maintain()
      budget.unit()
    }
    res.info("cycles") = k
    res.info("ann.recall_floor") = RecallFloor
    res.info("storage.live_files_after_maintenance") = liveAfterMaint.mkString("[", ",", "]")
    start.end(budget, repo)
  }
}
