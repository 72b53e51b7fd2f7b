package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

import graft.operators.Similarity
import graft.versioned.{GraftRepo, TableOps}

/** `ref_read`: one client issuing reads against a fixture built once:
  * region-partitioned `orders`, `lineitem` with a bloom column and
  * range-clustered files, ~20 prior commits, a tag, a diverged `dev`
  * branch and an ANN index. Each round runs, in a seeded order: bloom
  * and min/max point lookups, a partition-pruned range aggregate, a
  * metadata-only COUNT/MIN/MAX, a join aggregate, `VERSION AS OF` /
  * `TIMESTAMP AS OF` reads of random fixture commits, `dev` and tag
  * reads, `changesBetween` and an ANN top-k probe. Zero commits.
  *
  * Expected answers come from the benchmark's own copy of the generated
  * rows; time-travel answers are recorded as each fixture commit is made.
  */
object RefRead {
  /** One fixture commit and the state of `orders` right after it. */
  private final case class Point(cid: String, tsMs: Long, orders: Long, ordersCheck: Long)

  private final class Fixture(val repo: GraftRepo, val points: IndexedSeq[Point],
      val orders: IndexedSeq[Order], val mainLines: IndexedSeq[Line], val devLines: IndexedSeq[Line],
      val tagOrders: (Long, Long))

  def run(a: Args, res: Results, spark: SparkSession, catRoot: Path): Measured = {
    val nOrders = if (a.tiny) 800 else 4000
    val batch = if (a.tiny) 50 else 200
    val nBatches = if (a.tiny) 4 else 8
    val nVec = if (a.tiny) 300 else 400
    val base = Data.orders(a.seed, 31L, 1 to nOrders)
    val batches = (0 until nBatches).map(b =>
      Data.orders(a.seed, 100L + b, (nOrders + 1 + b * batch) to (nOrders + (b + 1) * batch)))
    val baseLines = Data.lines(a.seed, 32L, base.map(_.key))
    val batchLines = batches.zipWithIndex.map { case (os, b) => Data.lines(a.seed, 200L + b, os.map(_.key)) }
    val devBatches = (0 until 2).map(b =>
      Data.lines(a.seed, 300L + b, (0 until batch).map(i => 90000000L + b * batch + i)))
    val corpus = Data.vectors(a.seed, 33L, (1L to nVec.toLong))
    val branchAt = nBatches * 3 / 4
    val tagAt = nBatches / 2

    def build(r: String): Fixture = {
      def t(name: String) = s"g.$r.main.db.$name"
      spark.sql(s"CREATE NAMESPACE g.$r")
      spark.sql(s"CREATE NAMESPACE g.$r.main.db")
      spark.sql(s"CREATE TABLE ${t("orders")} (${Data.orderCols}) PARTITIONED BY (o_region)")
      spark.sql(s"CREATE TABLE ${t("lineitem")} (${Data.lineCols}) " +
        "TBLPROPERTIES ('graft.bloom.columns'='l_partkey')")
      val repo = GraftRepo.open(catRoot.resolve(r), BenchIO.io)
      val points = mutable.ArrayBuffer.empty[Point]
      var orders = base
      var lines = baseLines
      var tagState = (0L, 0L)
      def mark(): Unit = {
        val c = repo.headCommit("main")
        points += Point(c.id, c.ts, orders.size.toLong, orders.map(_.check).sum)
        Thread.sleep(2) // commit timestamps are milliseconds: keep them distinct
      }
      Data.ordersDf(spark, base).writeTo(t("orders")).append()
      mark()
      // lineitem in key-range clustered files, so min/max stats prune
      Data.linesDf(spark, baseLines).repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey").writeTo(t("lineitem")).append()
      mark()
      var devLines: IndexedSeq[Line] = null
      batches.indices.foreach { b =>
        if (b == branchAt) {
          repo.createBranch("dev", "main")
          devBatches.foreach(d => Data.linesDf(spark, d).writeTo(s"g.$r.dev.db.lineitem").append())
          devLines = lines ++ devBatches.flatten
        }
        val tbl = if (b % 2 == 0) "orders" else "lineitem"
        if (b % 2 == 0) {
          Data.ordersDf(spark, batches(b)).writeTo(t("orders")).append()
          orders = orders ++ batches(b)
        } else {
          Data.linesDf(spark, batchLines(b)).writeTo(t("lineitem")).append()
          lines = lines ++ batchLines(b)
        }
        mark()
        // a metadata-only commit between data commits
        spark.sql(s"ALTER TABLE ${t(tbl)} SET TBLPROPERTIES ('fixture.step'='$b')")
        mark()
        if (b == tagAt) {
          repo.createTag("mid", "main")
          tagState = (orders.size.toLong, orders.map(_.check).sum)
        }
      }
      spark.sql(s"CREATE NAMESPACE g.$r.main.ann")
      Similarity.annIndexInit(spark, "g", repo, "main", Data.vectorsDf(spark, corpus))
      new Fixture(repo, points.toIndexedSeq, orders, lines, devLines, tagState)
    }
    val fx = Setup.repeat(res, if (a.tiny) 2 else 3)(i => build(s"rr$i"))
    val r = fx.repo.root.getFileName.toString
    res.info("fixture.commits") = fx.points.size
    val rnd = Data.rng(a.seed, 41L)
    val sp = Some(spark)
    var planted = a.plantWrong
    def t(name: String) = s"g.$r.main.db.$name"

    def rows(q: String): Seq[Row] = {
      val out = spark.sql(q).collect().toSeq
      Trace.count("bench.rows_returned", out.size.toLong)
      out
    }
    def pair(q: String): (Long, Long) = {
      val row = rows(q).head
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    }
    def expect(got: (Long, Long), want: (Long, Long)): Boolean =
      if (planted) { planted = false; false } else got == want

    def rows0(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
      val out = df.collect().toSeq
      Trace.count("bench.rows_returned", out.size.toLong)
      out.map(x => x.getString(0) -> x.getLong(1)).toMap
    }

    val parts = fx.mainLines.map(_.part).distinct.toIndexedSeq
    val lineKeys = fx.mainLines.map(_.order).distinct.toIndexedSeq
    val queries = Data.vectors(a.seed, 34L, (1L to 16L))
    val queryDf = Data.vectorsDf(spark, queries, "query_id", "qv")
      .withColumn("qn", expr("sqrt(aggregate(qv, 0D, (acc, x) -> acc + x * x))"))
    val truth = queries.map { case (id, q) => id -> Data.bruteTopK(corpus, q, 10).toSet }.toMap
    val RecallFloor = 0.5

    var out = new Results
    val ops: IndexedSeq[() => Unit] = IndexedSeq(
      () => { // bloom-pruned point lookup
        val p = parts(rnd.nextInt(parts.size))
        val ls = fx.mainLines.filter(_.part == p)
        out.run(sp, "select")(pair(s"SELECT count(*), sum(l_extendedprice) FROM ${t("lineitem")} WHERE l_partkey = $p"))(
          expect(_, (ls.size.toLong, ls.map(_.price).sum)))
      },
      () => { // min/max-pruned point lookup
        val k = lineKeys(rnd.nextInt(lineKeys.size))
        val ls = fx.mainLines.filter(_.order == k)
        out.run(sp, "select")(pair(s"SELECT count(*), sum(l_quantity) FROM ${t("lineitem")} WHERE l_orderkey = $k"))(
          expect(_, (ls.size.toLong, ls.map(_.qty.toLong).sum)))
      },
      () => { // partition-pruned range aggregate
        val (g, d) = (rnd.nextInt(Data.Regions), rnd.nextInt(Data.Days - 60))
        val os = fx.orders.filter(o => o.region == g && o.day >= d && o.day <= d + 60)
        out.run(sp, "select")(pair(s"SELECT count(*), sum(o_totalprice) FROM ${t("orders")} " +
          s"WHERE o_region = $g AND o_day BETWEEN $d AND ${d + 60}"))(expect(_, (os.size.toLong, os.map(_.price).sum)))
      },
      () => { // metadata-only aggregate
        out.run(sp, "select")(rows(s"SELECT count(*), min(l_orderkey), max(l_orderkey) FROM ${t("lineitem")}").head)(row =>
          row.getLong(0) == fx.mainLines.size && row.getLong(1) == fx.mainLines.map(_.order).min &&
            row.getLong(2) == fx.mainLines.map(_.order).max)
      },
      () => { // TPC-H-shaped join + aggregate
        val q = 5 + rnd.nextInt(40)
        val byKey = fx.orders.map(o => o.key -> o.region).toMap
        val want = fx.mainLines.filter(l => l.qty < q && byKey.contains(l.order))
          .groupBy(l => byKey(l.order)).map { case (g, ls) => (g, ls.size.toLong, ls.map(_.price).sum) }.toSet
        out.run(sp, "select")(rows(s"SELECT o.o_region, count(*), sum(l.l_extendedprice) FROM ${t("orders")} o " +
          s"JOIN ${t("lineitem")} l ON o.o_orderkey = l.l_orderkey WHERE l.l_quantity < $q GROUP BY o.o_region")
          .map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSet)(_ == want)
      },
      () => { // VERSION AS OF a random fixture commit
        val p = fx.points(rnd.nextInt(fx.points.size))
        out.run(sp, "ref_select")(pair(s"SELECT ${Data.orderCheckSql} FROM ${t("orders")} VERSION AS OF '${p.cid}'"))(
          expect(_, (p.orders, p.ordersCheck)))
      },
      () => { // TIMESTAMP AS OF a random fixture commit
        val p = fx.points(rnd.nextInt(fx.points.size))
        out.run(sp, "ref_select")(pair(s"SELECT ${Data.orderCheckSql} FROM ${t("orders")} " +
          s"TIMESTAMP AS OF timestamp_millis(${p.tsMs})"))(expect(_, (p.orders, p.ordersCheck)))
      },
      () => { // the diverged dev branch
        out.run(sp, "ref_select")(pair(s"SELECT ${Data.lineCheckSql} FROM g.$r.dev.db.lineitem"))(
          expect(_, (fx.devLines.size.toLong, fx.devLines.map(_.check).sum)))
      },
      () => { // a tag
        out.run(sp, "ref_select")(pair(s"SELECT ${Data.orderCheckSql} FROM ${t("orders")} VERSION AS OF 'mid'"))(
          expect(_, fx.tagOrders))
      },
      () => { // row-level changes between two fixture commits
        val i = rnd.nextInt(fx.points.size - 1)
        val j = i + 1 + rnd.nextInt(fx.points.size - 1 - i)
        val (pi, pj) = (fx.points(i), fx.points(j))
        out.run(sp, "changes") {
          val df = Trace.span("versioned.api", "changesBetween")(
            TableOps.changesBetween(spark, fx.repo, pi.cid, pj.cid, "db/orders"))
          rows0(df.groupBy("_change_type").count())
        }(got => got == Map("insert" -> (pj.orders - pi.orders)).filter(_._2 > 0))
      },
      () => { // ANN top-k probe of a query batch
        out.run(sp, "ann_probe") {
          Trace.span("operators", "annIndexProbe")(
            Similarity.annIndexProbe(spark, "g", r, "main", queryDf, topK = 10)
              .select("query_id", "neighbor_id").collect().toSeq)
        } { hits =>
          val got = hits.groupBy(_.getLong(0)).map { case (q, hs) => q -> hs.map(_.getLong(1)).toSet }
          val hit = truth.map { case (q, want) => (got.getOrElse(q, Set.empty) intersect want).size }.sum
          val total = truth.values.map(_.size).sum
          Trace.count("bench.ann_hits", hit.toLong); Trace.count("bench.ann_truth", total.toLong)
          hit.toDouble / total >= RecallFloor
        }
      })

    def round(): Unit = {
      val order = ops.indices.toArray
      (order.length - 1 to 1 by -1).foreach { i =>
        val j = rnd.nextInt(i + 1); val x = order(i); order(i) = order(j); order(j) = x
      }
      order.foreach(i => ops(i)())
    }
    // warm-up round, not measured
    round()
    res.absorbFailures(out)
    out = res
    val start = Measured.begin(res, fx.repo.root)
    val budget = new Budget(a, if (a.tiny) 1 else 2)
    while (budget.more()) {
      round()
      budget.unit()
    }
    res.info("rounds") = budget.count
    res.info("ann.recall_floor") = RecallFloor
    start.end(budget, fx.repo)
  }
}
