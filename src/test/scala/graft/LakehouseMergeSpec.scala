package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LakehouseMerge, VersionedStore}

/** q88 write-audit-publish: crash safety, audit gating, optimistic
  * publish, and end-to-end conservation against a full recompute.
  */
class LakehouseMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  private def tmpTable(): String = {
    val base = Paths.get("target", "test-tmp")
    Files.createDirectories(base)
    Files.createTempDirectory(base, "lakehouse").toString
  }

  private def planted(rows: Seq[(Long, Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("o_custkey", "n_orders", "td", "ld")
      .select(col("o_custkey"), col("n_orders"),
        col("td").cast("decimal(28,2)").as("total_dec"),
        col("ld").cast("date").as("last_orderdate"))
  }

  test("crash between write and publish leaves the old version readable") {
    val path = tmpTable()
    val v1 = planted(Seq((1L, 2L, "10.00", "1997-01-01"),
      (2L, 1L, "5.00", "1997-02-01")))
    val d1 = VersionedStore.stage(v1, path, "v1")
    LakehouseMerge.auditAndPublish(spark, path, 1, d1,
      2L, 3L, new java.math.BigDecimal("15.00"))
    assert(VersionedStore.head(spark, path) == 1)
    assert(LakehouseMerge.readTable(spark, path).count() == 2)

    // CRASH WINDOW: v2 files land (staged), publish never runs —
    // readers must keep serving v1
    val v2 = planted(Seq((1L, 3L, "12.00", "1997-03-01"),
      (2L, 1L, "5.00", "1997-02-01"), (3L, 1L, "7.00", "1997-04-01")))
    val d2 = VersionedStore.stage(v2, path, "v2")
    assert(VersionedStore.head(spark, path) == 1,
      "unpublished files must not move the head")
    assert(LakehouseMerge.readTable(spark, path)
      .agg(sum(col("n_orders"))).head().getLong(0) == 3L,
      "reader must still see v1's rows")

    // the writer re-runs (self-heal): publish succeeds, head moves
    LakehouseMerge.auditAndPublish(spark, path, 2, d2,
      3L, 5L, new java.math.BigDecimal("24.00"))
    assert(VersionedStore.head(spark, path) == 2)
    assert(LakehouseMerge.readTable(spark, path).count() == 3)
  }

  test("a failed audit refuses to publish") {
    val path = tmpTable()
    val d1 = VersionedStore.stage(
      planted(Seq((1L, 1L, "10.00", "1997-01-01"))), path, "v1")
    val e = intercept[IllegalArgumentException] {
      // wrong expected mass: files are corrupt/incomplete by hypothesis
      LakehouseMerge.auditAndPublish(spark, path, 1, d1,
        1L, 1L, new java.math.BigDecimal("999.00"))
    }
    assert(e.getMessage.contains("NOT publishing"))
    assert(VersionedStore.head(spark, path) == 0,
      "no manifest may land after a failed audit")
  }

  test("optimistic publish refuses a moved head and a double publish") {
    val path = tmpTable()
    val v1 = planted(Seq((1L, 1L, "10.00", "1997-01-01")))
    val d1 = VersionedStore.stage(v1, path, "v1")
    LakehouseMerge.auditAndPublish(spark, path, 1, d1,
      1L, 1L, new java.math.BigDecimal("10.00"))
    // double publish of v1: head is already 1, not 0 → conflict
    val e = intercept[VersionedStore.PublishConflictException] {
      LakehouseMerge.auditAndPublish(spark, path, 1, d1,
        1L, 1L, new java.math.BigDecimal("10.00"))
    }
    assert(e.getMessage.contains("conflict"))
    // skipping a version (publish v3 while head is 1) → conflict
    val d3 = VersionedStore.stage(v1, path, "v3")
    val e2 = intercept[VersionedStore.PublishConflictException] {
      LakehouseMerge.auditAndPublish(spark, path, 3, d3,
        1L, 1L, new java.math.BigDecimal("10.00"))
    }
    assert(e2.getMessage.contains("conflict"))
  }

  test("two interleaved writers: the loser rebases and BOTH deltas land in the final mass") {
    val path = tmpTable()
    LakehouseMerge.auditAndPublish(spark, path, 1,
      VersionedStore.stage(planted(Seq((1L, 2L, "10.00", "1997-01-01"),
          (2L, 1L, "5.00", "1997-02-01"))), path, "v1"),
      2L, 3L, new java.math.BigDecimal("15.00"))

    // writer A's delta and writer B's delta, disjoint + overlapping keys
    val deltaA = planted(Seq((1L, 1L, "2.00", "1997-05-01"),
      (3L, 2L, "8.00", "1997-06-01")))
    val deltaB = planted(Seq((2L, 3L, "9.00", "1997-07-01")))

    // INTERLEAVING: writer A stages its merge from head v1, and
    // before A publishes, writer B lands v2 (injected via the
    // beforePublish hook) — A's publish conflicts, A rebases onto
    // B's v2 and publishes v3
    var bPublished = -1
    val vA = LakehouseMerge.mergeDeltaWithRebase(spark, path, deltaA,
      beforePublish = attempt =>
        if (attempt == 0)
          bPublished = LakehouseMerge.mergeDeltaWithRebase(spark, path, deltaB))
    assert(bPublished == 2, "writer B must win v2")
    assert(vA == 3, "writer A must rebase onto B's head and land v3")
    assert(VersionedStore.head(spark, path) == 3)

    // the final mass audit carries BOTH deltas: v1 + A + B exactly
    val got = LakehouseMerge.readTable(spark, path)
      .orderBy(col("o_custkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).toPlainString, r.getDate(3).toString))
    assert(got.toSeq == Seq(
      (1L, 3L, "12.00", "1997-05-01"),
      (2L, 4L, "14.00", "1997-07-01"),
      (3L, 2L, "8.00", "1997-06-01")))
    // the loser's abandoned staged dir was cleaned up on rebase:
    // every remaining data dir is named by some manifest
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = f.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).filter(_.startsWith("data_v")).toSet
    val named = (1 to 3)
      .map(v => VersionedStore.dataDirOf(spark, path, v)).toSet
    assert(dataDirs == named,
      s"orphaned staged dirs left behind: ${dataDirs -- named}")
  }

  test("q95/q96 schema evolution: nulls for pre-evolution rows, time travel across the boundary") {
    val got = LakehouseMerge.evolvedOrdersSummary(spark, sfDir)
    // head schema carries the evolved column; the table equals the
    // full recompute (n_urgent = urgent count within the evolved
    // slice for its customers, NULL for everyone else)
    val orders = Tables.orders(spark, sfDir)
    val want = orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderdate").cast("date")).as("last_orderdate"),
        when(sum(when(pmod(col("o_orderkey"), lit(3)) === 0, 1L)
          .otherwise(0L)) > 0,
          sum(when(pmod(col("o_orderkey"), lit(3)) === 0 &&
            col("o_orderpriority").startsWith("1-"), 1L).otherwise(0L)))
          .as("n_urgent"))
      .orderBy(col("o_custkey"))
    val g = got.collect(); val w = want.collect()
    assert(g.length == w.length && g.nonEmpty)
    g.zip(w).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.getLong(1) == b.getLong(1))
      assert(a.getDouble(2) == b.getDouble(2))
      assert(a.getDate(3) == b.getDate(3))
      assert(a.isNullAt(4) == b.isNullAt(4),
        s"cust ${a.getLong(0)}: null-ness of n_urgent diverged")
      if (!a.isNullAt(4)) assert(a.getLong(4) == b.getLong(4))
    }
    // both populated and NULL n_urgent rows must occur (no backfill)
    assert(g.exists(_.isNullAt(4)) && g.exists(!_.isNullAt(4)))

    // warm re-read is idempotent and keeps the evolved schema
    val v3Schema = LakehouseMerge.evolvedOrdersSummary(spark, sfDir).schema
    assert(v3Schema.fieldNames.contains("n_urgent"))

    // diff across the evolution boundary: exactly the evolved slice's
    // customers, with n_urgent_delta = their urgent count
    val diff = LakehouseMerge.evolutionDiff(spark, sfDir).collect()
    val slice0 = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority").startsWith("1-"), 1L)
          .otherwise(0L)).as("u"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(diff.map(_.getLong(0)).toSet == slice0.keySet)
    diff.foreach { r =>
      val (n, u) = slice0(r.getLong(0))
      assert(r.getLong(2) == n, s"cust ${r.getLong(0)} n_orders_delta")
      assert(r.getLong(4) == u, s"cust ${r.getLong(0)} n_urgent_delta")
    }
  }

  test("streaming upsert publishes one audited version per batch; final equals batch recompute") {
    val path = tmpTable()
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    val base = Paths.get("target", "test-tmp")
    val d = Files.createTempDirectory(base, "upsertstream").toString
    // two source files + maxFilesPerTrigger=1: the merge must carry
    // the published head across micro-batches
    orders.repartition(2).write.mode("overwrite").parquet(d)
    val stream = spark.readStream.schema(orders.schema)
      .option("maxFilesPerTrigger", "1").parquet(d)
    val q = graft.operators.LakehouseMerge.upsertOrdersStream(stream, path)
      .start()
    try { q.processAllAvailable() } finally q.stop()

    assert(VersionedStore.head(spark, path) == 2,
      "two non-empty batches must publish exactly v1 and v2")
    val got = graft.operators.LakehouseMerge.readTable(spark, path)
      .select(col("o_custkey"), col("n_orders"),
        col("total_dec").cast("double").as("tp"), col("last_orderdate"))
      .orderBy(col("o_custkey")).collect()
    val want = orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("tp"),
        max(col("o_orderdate").cast("date")).as("last_orderdate"))
      .orderBy(col("o_custkey")).collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1))
      assert(g.getDouble(2) == w.getDouble(2))
      assert(g.getDate(3) == w.getDate(3))
    }
  }

  test("q92 history lists every published version with conserved masses") {
    val hist = LakehouseMerge.tableHistory(spark, sfDir).collect()
    assert(hist.map(_.getInt(0)).toSeq === Seq(1, 2))
    // masses re-derived from the raw slices
    val orders = Tables.orders(spark, sfDir)
    def mass(df: org.apache.spark.sql.DataFrame) = {
      val r = df.agg(countDistinct(col("o_custkey")), count(lit(1)),
        sum(col("o_totalprice").cast("decimal(18,2)"))).head()
      (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue())
    }
    val v1 = mass(orders.filter(pmod(col("o_orderkey"), lit(3)) =!= 0))
    val v2 = mass(orders)
    assert((hist(0).getLong(1), hist(0).getLong(2), hist(0).getDouble(3))
      === v1)
    assert((hist(1).getLong(1), hist(1).getLong(2), hist(1).getDouble(3))
      === v2)
    // history grows monotonically: v2 strictly dominates v1
    assert(hist(1).getLong(2) > hist(0).getLong(2))
  }

  test("q89 version diff classifies inserts/updates with exact slice deltas") {
    val got = LakehouseMerge.versionDiff(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getDouble(3)))).toMap
    // reference straight from the raw slices
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val delta = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("p"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val baseCust = orders.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
      .select(col("o_custkey")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(got.keySet == delta.keySet, "diff rows must be exactly the delta customers")
    assert(got.nonEmpty)
    got.foreach { case (c, (change, nD, pD)) =>
      val (en, ep) = delta(c)
      assert(nD == en && pD == ep, s"cust $c: ($nD,$pD) != ($en,$ep)")
      assert(change == (if (baseCust(c)) "update" else "insert"))
    }
    // both classes should occur on the sf corpus
    assert(got.values.map(_._1).toSet == Set("insert", "update"))
  }

  test("q88 end-to-end conserves mass vs a full recompute; warm read idempotent") {
    val got = LakehouseMerge.upsertOrdersSummary(spark, sfDir).collect()
    val want = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderdate").cast("date")).as("last_orderdate"))
      .orderBy(col("o_custkey")).collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1))
      assert(g.getDouble(2) == w.getDouble(2),
        s"cust ${g.getLong(0)}: ${g.getDouble(2)} != ${w.getDouble(2)}")
      assert(g.getDate(3) == w.getDate(3))
    }
    // warm rerun: head already at v2 — a pure manifest-head read
    val again = LakehouseMerge.upsertOrdersSummary(spark, sfDir).collect()
    assert(again.map(_.toString).toSeq == got.map(_.toString).toSeq)
  }
}
