package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CowErasure, VersionedStore}

/** Round-15 operators: q94 vacuum/retention on the copy-on-write
  * store — the q91+q94 composition proving right-to-be-forgotten ends
  * with the deleted rows' BYTES physically gone from storage, plus
  * the reader-safety and idempotence contracts.
  */
class Round15OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  private def tmpTable(): String = {
    val base = Paths.get("target", "test-tmp")
    Files.createDirectories(base)
    Files.createTempDirectory(base, "cowvacuum").toString
  }

  private def fs(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("q91+q94 composed: vacuum removes the deleted doc_ids' bytes; retained reader survives; expired version fails cleanly") {
    val path = tmpTable()
    val (mod, rem) = (50, 7)
    CowErasure.publishBase(spark, sfDir, path)
    CowErasure.eraseCow(spark, sfDir, path, mod, rem)
    val f = fs(path)

    // pre-vacuum: the deleted rows' bytes are STILL on disk in the
    // superseded v=1 files of rewritten partitions (time travel to v1
    // can read them — that is exactly what q94 must end)
    val affected = spark.read.parquet(s"$path/manifest_v2")
      .filter(col("owner_version") === 2)
      .select(col("source")).collect().map(_.getString(0))
    assert(affected.nonEmpty)
    affected.foreach { src =>
      assert(f.exists(new org.apache.hadoop.fs.Path(
        s"$path/v=1/source=$src")), s"precondition: v1 bytes for $src")
    }
    val v1DeletedRows = CowErasure.readTableAt(spark, path, 1)
      .filter(pmod(col("doc_id"), lit(mod)) === rem).count()
    assert(v1DeletedRows > 0, "precondition: v1 still serves deleted rows")

    // a reader of the RETAINED head, opened BEFORE the vacuum
    val headReader = CowErasure.readTable(spark, path)
    val preVacuumCount = headReader.count()

    val (expired, removed) = CowErasure.vacuum(spark, path, retainFrom = 2)
    assert(expired == 1, "manifest_v1 expired")
    assert(removed == affected.length,
      "exactly the rewritten partitions' superseded dirs removed")

    // THE BYTES ARE GONE: every affected partition's v=1 directory no
    // longer exists, and NO parquet file anywhere under the store
    // contains a deleted doc_id
    affected.foreach { src =>
      assert(!f.exists(new org.apache.hadoop.fs.Path(
        s"$path/v=1/source=$src")), s"v1 bytes for $src must be gone")
    }
    val remaining = {
      val it = f.listFiles(new org.apache.hadoop.fs.Path(path), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val p = it.next().getPath.toString
        if (p.endsWith(".parquet") && !p.contains("manifest_v")) b += p
      }
      b.result()
    }
    assert(remaining.nonEmpty)
    val leakedDeleted = spark.read.parquet(remaining: _*)
      .filter(pmod(col("doc_id"), lit(mod)) === rem).count()
    assert(leakedDeleted == 0,
      s"$leakedDeleted deleted rows still physically present")

    // unaffected partitions' ORIGINAL files are untouched (served
    // from v=1 as before)
    val unaffected = spark.read.parquet(s"$path/manifest_v2")
      .filter(col("owner_version") === 1)
      .select(col("source")).collect().map(_.getString(0))
    unaffected.foreach { src =>
      assert(f.exists(new org.apache.hadoop.fs.Path(
        s"$path/v=1/source=$src")), s"retained v1 bytes for $src")
    }

    // reader safety: the pre-vacuum head reader still collects — all
    // its files are referenced by the retained manifest
    assert(headReader.count() == preVacuumCount)
    // time travel to the expired version fails CLEANLY at manifest
    // resolution, never as a dangling file read
    val e = intercept[IllegalArgumentException] {
      CowErasure.readTableAt(spark, path, 1)
    }
    assert(e.getMessage.contains("expired") ||
      e.getMessage.contains("not published"))

    // idempotence: a second vacuum finds nothing
    assert(CowErasure.vacuum(spark, path, retainFrom = 2) == ((0, 0)))

    // crash window between expire and orphan removal: simulate by
    // re-planting an unreferenced orphan dir — invisible to readers,
    // and the re-run removes it
    val orphan = new org.apache.hadoop.fs.Path(s"$path/v=1/source=${affected.head}")
    f.mkdirs(orphan)
    assert(CowErasure.vacuum(spark, path, retainFrom = 2) == ((0, 1)))
    assert(!f.exists(orphan))
  }

  test("streaming schema evolution: an upgraded writer widens a pre-evolution table mid-stream") {
    import graft.operators.LakehouseMerge
    val path = tmpTable()
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    val base = Paths.get("target", "test-tmp")

    // the OLD writer publishes v1 (plain schema, no n_urgent) from the
    // first slice — one file, one micro-batch
    val oldDir = Files.createTempDirectory(base, "evoold").toString
    orders.filter(pmod(col("o_orderkey"), lit(3)) === 1)
      .drop("o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(oldDir)
    val oldSchema = orders.drop("o_orderpriority").schema
    val q1 = LakehouseMerge.upsertOrdersStream(
      spark.readStream.schema(oldSchema).parquet(oldDir), path).start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(VersionedStore.head(spark, path) == 1)
    assert(!VersionedStore.readVersion(spark, path, 1)
      .columns.contains("n_urgent"))

    // the UPGRADED writer streams the remaining feed (2 files → 2
    // batches), widening the schema on its first publish
    val newDir = Files.createTempDirectory(base, "evonew").toString
    orders.filter(pmod(col("o_orderkey"), lit(3)) =!= 1)
      .repartition(2).write.mode("overwrite").parquet(newDir)
    val q2 = LakehouseMerge.upsertOrdersStreamEvolved(
      spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1").parquet(newDir), path).start()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(VersionedStore.head(spark, path) == 3,
      "one widened version per post-upgrade batch")

    // the final table equals the one-shot evolution recompute: full
    // masses for everyone; n_urgent = urgent count within the
    // post-upgrade feed for customers it touched, NULL for the rest
    val evolvedFeed = pmod(col("o_orderkey"), lit(3)) =!= 1
    val want = orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderdate").cast("date")).as("last_orderdate"),
        when(sum(when(evolvedFeed, 1L).otherwise(0L)) > 0,
          sum(when(evolvedFeed &&
            col("o_orderpriority").startsWith("1-"), 1L).otherwise(0L)))
          .as("n_urgent"))
      .orderBy(col("o_custkey")).collect()
    val got = LakehouseMerge.readTable(spark, path)
      .select(col("o_custkey"), col("n_orders"),
        col("total_dec").cast("double").as("total_price"),
        col("last_orderdate"), col("n_urgent"))
      .orderBy(col("o_custkey")).collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1))
      assert(g.getDouble(2) == w.getDouble(2))
      assert(g.getDate(3) == w.getDate(3))
      assert(g.isNullAt(4) == w.isNullAt(4),
        s"cust ${g.getLong(0)}: n_urgent null-ness diverged")
      if (!g.isNullAt(4)) assert(g.getLong(4) == w.getLong(4))
    }
    assert(got.exists(_.isNullAt(4)) && got.exists(!_.isNullAt(4)),
      "both pre-evolution NULLs and evolved values must occur")
    // time travel to the pre-evolution v1 under the head schema:
    // the missing column null-fills
    val v1As = LakehouseMerge.readVersionAs(spark, path, 1,
      LakehouseMerge.readTable(spark, path).schema)
    assert(v1As.filter(col("n_urgent").isNotNull).count() == 0)
  }

  test("q97 OPTIMIZE: fewer files, disjoint per-file key ranges, identical data") {
    import graft.operators.LakehouseMerge
    // drive the registered flow end-to-end at sf0.001 (its own store)
    val got = LakehouseMerge.optimizedSummary(spark, sfDir)
    val want = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderdate").cast("date")).as("last_orderdate"))
      .orderBy(col("o_custkey"))
    assert(got.collect().map(_.toString).toSeq ===
      want.collect().map(_.toString).toSeq)

    // the layout claims: file-level evidence via input_file_name
    def filesOf(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(input_file_name().as("f"))
      .agg(min(col("o_custkey")).as("lo"), max(col("o_custkey")).as("hi"),
        count(lit(1)).as("n"))
      .collect()
    // rebuild readVersion views through the public-ish internals: the
    // optimize table is the one the registered query just published
    val path = LakehouseMerge.optTablePath(spark, sfDir)
    assert(VersionedStore.head(spark, path) == 2)
    val v1Files = filesOf(VersionedStore.readVersion(spark, path, 1))
    val v2Files = filesOf(VersionedStore.readVersion(spark, path, 2))
    assert(v1Files.length > 10, s"v1 should be fragmented: ${v1Files.length}")
    assert(v2Files.length <= 2, s"v2 should be compacted: ${v2Files.length}")
    // range-clustering: v2's per-file custkey ranges are DISJOINT
    // (parquet min/max prunes a point lookup to one file); v1's
    // hash-fragmented files all span the whole key range
    val ranges = v2Files.map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"overlapping file ranges: $hi1 >= $lo2")
      case _ =>
    }
    // a data-preserving rewrite: the version diff v1 -> v2 is EMPTY
    val v1 = VersionedStore.readVersion(spark, path, 1).as("a")
    val v2 = VersionedStore.readVersion(spark, path, 2).as("b")
    assert(v2.join(v1, Seq("o_custkey"), "full_outer")
      .filter(col("a.n_orders").isNull || col("b.n_orders").isNull ||
        col("a.n_orders") =!= col("b.n_orders") ||
        col("a.total_dec") =!= col("b.total_dec"))
      .count() == 0)
    // conservation ledger: both manifests carry identical masses
    val hist = (1 to 2).map(v => spark.read
      .parquet(s"$path/manifest_v$v").head())
    assert(hist(0).getLong(1) == hist(1).getLong(1))
    assert(hist(0).getLong(2) == hist(1).getLong(2))
    assert(hist(0).getString(3) == hist(1).getString(3))
  }

  test("streaming token-sort gate keeps exactly batch d38's signature set") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val base = Paths.get("target", "test-tmp")
    val d = Files.createTempDirectory(base, "tokensortstream").toString
    docs.write.mode("overwrite").parquet(d)
    val stream = spark.readStream.schema(docs.schema).parquet(d)
    val q = Dedup.tokenSortDedupStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("tokensort_out").start()
    try { q.processAllAvailable() } finally q.stop()

    val got = spark.table("tokensort_out")
    val want = Dedup.tokenSortDedup(spark, sfDir)
    // one keeper per signature; the signature set equals batch d38's
    assert(got.count() === want.count())
    assert(got.select("sig").distinct().count() === got.count())
    assert(got.as("g").join(want.as("b"), Seq("sig"), "full_outer")
      .filter(col("g.doc_id").isNull || col("b.keeper_id").isNull)
      .count() === 0)
    // every kept (doc_id, sig) is a genuine member of that token
    // multiset group (first-SEEN keeper — arrival order, not min id)
    val toks = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    val members = docs.select(col("doc_id"),
      md5(array_join(array_sort(toks), " ")).as("sig"))
    assert(got.join(members, Seq("doc_id", "sig")).count() === got.count())
  }

  test("q98 stats skipping: pruned read equals full scan; skipped files' ranges are disjoint from the predicate") {
    import graft.operators.DataSkipping
    val path = DataSkipping.ensureLinear(spark, sfDir)
    val (scanned, total, pruned) =
      DataSkipping.prunedRangeRead(spark, path, "custkey", 100L, 220L)
    // the pruning witness: strictly fewer files than the table has
    assert(scanned < total, s"no pruning: $scanned/$total")
    assert(scanned > 0)
    // skipping must be invisible in the data: equality with the
    // UNPRUNED filtered scan of the same published version
    val all = spark.read.parquet(
      DataSkipping.statsDf(spark, path).select("file")
        .collect().map(_.getString(0)).toSeq: _*)
      .filter(col("o_custkey").between(100L, 220L))
    assert(pruned.count() === all.count())
    assert(pruned.exceptAll(all).count() === 0)
    // every SKIPPED file's stats range really is disjoint
    val skipped = DataSkipping.statsDf(spark, path)
      .filter(col("max_custkey") < 100L || col("min_custkey") > 220L)
    assert(skipped.count() === (total - scanned).toLong)
    // empty-survivor path: a predicate beyond the key space yields an
    // empty frame under the table schema, zero files opened
    val (s0, _, empty) = DataSkipping.prunedRangeRead(spark, path,
      "custkey", 100000L, 200000L)
    assert(s0 === 0 && empty.count() === 0L)
    assert(empty.columns.contains("o_orderkey"))
  }

  test("q99 z-order: BOTH dimensions prune on the curve; the linear layout's second dimension cannot") {
    import graft.operators.DataSkipping
    val lin = DataSkipping.ensureLinear(spark, sfDir)
    val z = DataSkipping.ensureZorder(spark, sfDir)
    val lo = java.sql.Date.valueOf("1995-01-01")
    val hi = java.sql.Date.valueOf("1995-03-31")
    // linear store: perfect on its sort key, USELESS on orderdate —
    // every file's date range intersects the predicate
    val (linDate, linTotal, _) =
      DataSkipping.prunedRangeRead(spark, lin, "orderdate", lo, hi)
    assert(linDate === linTotal,
      s"linear layout unexpectedly pruned the scattered dimension")
    // z-ordered store: the SAME predicate prunes (≤ half the files),
    // and the other dimension still prunes too — the curve's whole
    // point (each dim is mediocre-but-real instead of one perfect /
    // one useless; measured 4/16 and 9/16 at sf0.001)
    val (zDate, zTotal, zdf) =
      DataSkipping.prunedRangeRead(spark, z, "orderdate", lo, hi)
    assert(zDate <= zTotal / 2, s"date dim: $zDate/$zTotal")
    val (zCust, _, _) =
      DataSkipping.prunedRangeRead(spark, z, "custkey", 100L, 220L)
    assert(zCust < zTotal, s"custkey dim: $zCust/$zTotal")
    // layout is invisible in the data
    val want = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate").cast("date").between(lo, hi)).count()
    assert(zdf.count() === want)
  }

  test("q97/q99 layouts: file boundaries depend on the data alone, not on what ran before in the JVM") {
    import graft.operators.DataSkipping
    // sf0.01: enough rows per file that sampled range boundaries move
    val dir = "/root/testdata/sf0.01"
    def published(cluster: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Seq[String] = {
      val path = tmpTable()
      DataSkipping.publishAt(spark, dir, path, cluster, 16)
      // file names and data_dir tokens are writer-unique; bloom
      // entries are compared as a set
      DataSkipping.statsDf(spark, path).drop("file", "data_dir")
        .withColumn("bloom", array_sort(map_entries(col("bloom"))))
        .collect().map(_.toString).sorted.toSeq
    }
    for ((name, cluster) <- Seq("linear" -> DataSkipping.linear,
        "z-order" -> DataSkipping.zorder)) {
      val first = published(cluster)
      assert(first.size === 16, s"$name: ${first.size} files")
      // unrelated range-partitioned work between the two publishes
      spark.range(100000).repartitionByRange(7, col("id") % 1013).count()
      assert(published(cluster) === first, s"$name: file stats moved")
    }
  }

  test("q101 bloom skipping: zero false negatives, real pruning, absent keys prune hardest") {
    import graft.operators.DataSkipping
    val path = DataSkipping.ensureLinear(spark, sfDir)
    val keys = Seq(1L, 7L, 32L, 321L, 888L, 1203L, 1497L)
    val (scanned, total, df) = DataSkipping.prunedBloomRead(spark, path, keys)
    assert(scanned < total, s"no pruning: $scanned/$total")
    // no false negatives: every present key's rows surface
    val want = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey").isin(keys: _*)).count()
    assert(df.count() === want && want === keys.size.toLong)
    // a key outside the table: bloom may false-positive a few file
    // opens but the result is exactly empty
    val (sAbs, _, absent) =
      DataSkipping.prunedBloomRead(spark, path, Seq(987654321L))
    assert(absent.count() === 0L)
    assert(sAbs < total)
  }

  test("q100 change feed replays to the head: absorbing every delta reconstructs the evolved table") {
    import graft.operators.LakehouseMerge
    val feed = LakehouseMerge.changeFeed(spark, sfDir).cache()
    // exactly one insert per key, and it is the key's FIRST version
    val perKey = feed.groupBy("o_custkey").agg(
      sum(when(col("change") === "insert", 1).otherwise(0)).as("ins"),
      min("version").as("first_v"))
    assert(perKey.filter(col("ins") =!= 1).count() === 0)
    assert(feed.filter(col("change") === "insert").as("i")
      .join(perKey.as("k"), Seq("o_custkey"))
      .filter(col("version") =!= col("first_v")).count() === 0)
    // the consumer: fold all deltas → must equal the published head.
    // Integer masses exactly; price within float ulps — each per-
    // version delta is an EXACT decimal cast to double, but 2-dp
    // decimals aren't binary-exact, so folding ≤3 such doubles sits
    // an ulp off the head's single decimal→double cast (a consumer
    // needing bit-exact folds keeps the decimal, as the store does)
    val replay = feed.groupBy("o_custkey").agg(
      sum("n_orders_delta").as("n_orders"),
      sum("price_delta").as("total_price"),
      sum("n_urgent_delta").as("n_urgent"))
    val head = SparkEntry.queries("q95_schema_evolution")(spark, sfDir)
      .select(col("o_custkey"), col("n_orders"), col("total_price"),
        coalesce(col("n_urgent"), lit(0L)).as("n_urgent"))
    assert(replay.count() === head.count())
    assert(replay.as("r").join(head.as("h"), Seq("o_custkey"))
      .filter(col("r.n_orders") =!= col("h.n_orders") ||
        abs(col("r.total_price") - col("h.total_price")) >
          abs(col("h.total_price")) * lit(1e-12) ||
        col("r.n_urgent") =!= col("h.n_urgent")).count() === 0)
    feed.unpersist()
    ()
  }

  test("q102 tri-modal MERGE: ledger balances, deletes gone from head but alive in time travel") {
    import graft.operators.MergeDml
    val got = MergeDml.mergedCustomers(spark, sfDir)
    assert(got.count() > 0)
    // the DML ledger: v2 rows = v1 rows + inserts − deletes, and all
    // three actions actually fired at this SF
    val h = MergeDml.history(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r).toMap
    val (v1, v2) = (h(1), h(2))
    assert(v2.getLong(1) ===
      v1.getLong(1) + v2.getLong(3) - v2.getLong(5))
    assert(v2.getLong(3) > 0 && v2.getLong(4) > 0 && v2.getLong(5) > 0,
      s"expected all of insert/update/delete to fire: $v2")
    // deleted keys: present in v1 (time travel), absent from the head
    val feed = MergeDml.dmlChangeFeed(spark, sfDir)
    val deleted = feed.filter(col("change") === "delete")
      .select("c_custkey")
    assert(deleted.count() === v2.getLong(5))
    assert(got.join(deleted, Seq("c_custkey")).count() === 0)
    val v1df = VersionedStore.readVersion(spark, mergePath(spark), 1)
    assert(v1df.join(deleted, Seq("c_custkey")).count() ===
      v2.getLong(5))
  }

  private def mergePath(s: org.apache.spark.sql.SparkSession): String =
    // THE table for this spec's corpus — never "any published table
    // under the root": tables for other SFs coexist there
    graft.operators.MergeDml.tablePath(s, sfDir)

  test("q104 partition evolution: old spec prunes by year + residual month, new spec prunes both dirs") {
    import graft.operators.PartitionEvolution
    val path = PartitionEvolution.ensurePublished(spark, sfDir)
    // both eras hold data (the evolution actually spans history)
    assert(spark.read.parquet(s"$path/data_v1").count() > 0)
    assert(spark.read.parquet(s"$path/data_v2").count() > 0)
    // 1998-Q1: the coarse-spec v1 has no 1998 directory at all (its
    // years all predate it) — year pruning eliminates the version
    assert(PartitionEvolution.matchingDirs(spark, path, 1, 1998, 1, 3)
      .isEmpty)
    // the evolved spec prunes to exactly the three month directories
    assert(PartitionEvolution.matchingDirs(spark, path, 2, 1998, 1, 3)
      .size === 3)
    // a pre-1998 quarter exercises the RESIDUAL path: v1's year dir
    // matches (month pruning impossible under its spec — one dir),
    // v2 contributes no directory
    assert(PartitionEvolution.matchingDirs(spark, path, 1, 1996, 4, 6)
      .size === 1)
    assert(PartitionEvolution.matchingDirs(spark, path, 2, 1996, 4, 6)
      .isEmpty)
    // and the residual month filter on v1 returns exactly the raw
    // recompute for that quarter (evolution invisible in the data)
    val got = PartitionEvolution.readMonths(spark, path, 1996, 4, 6)
    val want = Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate").cast("date")) === 1996 &&
        month(col("o_orderdate").cast("date")).between(4, 6))
    assert(got.count() === want.count())
    // the plan's partition pruning is real: the v2 branch scan for
    // 1998-Q1 reads only the pruned directories
    val plan = PartitionEvolution.monthlyRead(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"),
      "expected directory-level PartitionFilters in the scan")
  }

  test("q105 CDF streaming MV: signed-delta aggregation equals the v2-v1 per-nation recompute") {
    import graft.operators.MergeDml
    val feed = MergeDml.dmlChangeFeedCdf(spark, sfDir)
    val base = Paths.get("target", "test-tmp")
    val d = Files.createTempDirectory(base, "cdffeed").toString
    feed.repartition(3).write.mode("overwrite").parquet(d)
    val stream = spark.readStream.schema(feed.schema)
      .option("maxFilesPerTrigger", "1").parquet(d)
    val q = MergeDml.dmlMvStream(stream).writeStream
      .outputMode("complete").format("memory").queryName("dml_mv").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("dml_mv")
    assert(got.count() > 0)
    val path = mergePath(spark)
    def agg(v: Int) = VersionedStore.readVersion(spark, path, v)
      .groupBy("c_nationkey").agg(count(lit(1)).as("n"),
        sum(col("c_acctbal")).cast("decimal(28,2)").as("m"))
    val zero = lit(0).cast("decimal(28,2)")
    val want = agg(2).as("b")
      .join(agg(1).as("a"), Seq("c_nationkey"), "full_outer")
      .select(col("c_nationkey"),
        (coalesce(col("b.n"), lit(0L)) - coalesce(col("a.n"), lit(0L)))
          .as("n_accounts_delta"),
        (coalesce(col("b.m"), zero) - coalesce(col("a.m"), zero))
          .cast("decimal(28,2)").as("balance_delta"))
    // full-outer: a nation absent from the feed has zero delta in the
    // recompute; decimal equality is exact end-to-end
    assert(got.as("g").join(want.as("w"), Seq("c_nationkey"), "full_outer")
      .filter(coalesce(col("g.n_accounts_delta"), lit(0L)) =!=
          coalesce(col("w.n_accounts_delta"), lit(0L)) ||
        coalesce(col("g.balance_delta"), zero) =!=
          coalesce(col("w.balance_delta"), zero)).count() === 0)
  }

  test("streaming stats ingest: per-batch stats rows keep the pruned read path batch-equal") {
    import graft.operators.DataSkipping
    val base = Paths.get("target", "test-tmp")
    val store = Files.createTempDirectory(base, "streamskip").toString
    val feedDir = Files.createTempDirectory(base, "streamfeed").toString
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"),
        col("o_totalprice"),
        col("o_orderdate").cast("date").as("o_orderdate"))
    orders.repartition(4).write.mode("overwrite").parquet(feedDir)
    val q = DataSkipping.streamIngestStats(
      spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1").parquet(feedDir), store)
      .start()
    try { q.processAllAvailable() } finally q.stop()
    // one stats row per landed file, ranges bound their files exactly
    val stats = DataSkipping.statsDf(spark, store)
    assert(stats.count() === 4)
    stats.collect().foreach { r =>
      val f = spark.read.parquet(r.getString(0))
      val b = f.agg(min("o_custkey"), max("o_custkey")).head()
      assert(r.getLong(1) === b.getLong(0) && r.getLong(2) === b.getLong(1))
    }
    // the pruned read equals the one-shot batch recompute
    val (scanned, total, pruned) =
      DataSkipping.prunedRangeRead(spark, store, "custkey", 40L, 70L)
    assert(total === 4)
    val want = orders.filter(col("o_custkey").between(40L, 70L))
    assert(pruned.count() === want.count())
    assert(pruned.select("o_orderkey").exceptAll(
      want.select("o_orderkey")).count() === 0)
    // crash window: an orphan data file no stats row names is
    // invisible to the pruned reader
    orders.limit(5).coalesce(1).write.mode("errorifexists")
      .parquet(s"$store/data_borphan_deadbeef")
    val (_, total2, pruned2) =
      DataSkipping.prunedRangeRead(spark, store, "custkey", 40L, 70L)
    assert(total2 === 4)
    assert(pruned2.count() === want.count())

    // OPTIMIZE: the 4 per-batch files compact into 2 range-clustered
    // ones under the NEXT stats snapshot; pruned reads stay equal,
    // the superseded per-batch files (and the crash orphan) become
    // vacuumable debris, and post-OPTIMIZE ingest appends to the new
    // head
    DataSkipping.optimizeStore(spark, store, targetFiles = 2)
    assert(VersionedStore.head(spark, store, "filestats") === 2)
    val stats2 = DataSkipping.statsDf(spark, store)
    assert(stats2.count() === 2)
    val (_, t3, pruned3) =
      DataSkipping.prunedRangeRead(spark, store, "custkey", 40L, 70L)
    assert(t3 === 2 && pruned3.count() === want.count())
    assert(DataSkipping.vacuumOrphans(spark, store) === 5,
      "4 superseded batch files + 1 crash orphan reclaimed")
    val (_, _, pruned4) =
      DataSkipping.prunedRangeRead(spark, store, "custkey", 40L, 70L)
    assert(pruned4.count() === want.count())
    // ingest continues into the optimized head
    val extraDir = Files.createTempDirectory(base, "streamfeed2").toString
    orders.limit(7).coalesce(1).write.mode("overwrite").parquet(extraDir)
    val q2 = DataSkipping.streamIngestStats(
      spark.readStream.schema(orders.schema).parquet(extraDir), store)
      .start()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(VersionedStore.head(spark, store, "filestats") === 2)
    assert(DataSkipping.statsDf(spark, store).count() === 3)
  }

  test("q106 metadata count: wholly-covered files are never opened; orphan vacuum reclaims unnamed files") {
    import graft.operators.DataSkipping
    val path = DataSkipping.ensureLinear(spark, sfDir)
    val (boundary, total, n) =
      DataSkipping.countWhere(spark, path, "custkey", 30L, 120L)
    val want = Tables.orders(spark, sfDir)
      .filter(col("o_custkey").between(30L, 120L)).count()
    assert(n === want)
    // on the range-clustered layout a wide interior range has ≤2
    // boundary files regardless of how many it covers
    assert(boundary <= 2, s"boundary files: $boundary/$total")
    val covered = DataSkipping.statsDf(spark, path)
      .filter(col("min_custkey") >= 30L && col("max_custkey") <= 120L)
      .count()
    assert(covered > 0, "predicate must wholly cover at least one file")
    // orphan vacuum on an isolated copy of the store (never mutate
    // the shared cached store other specs read)
    val base = Paths.get("target", "test-tmp")
    val copy = Files.createTempDirectory(base, "skipvac").toString
    val f = fs(copy)
    org.apache.hadoop.fs.FileUtil.copy(f,
      new org.apache.hadoop.fs.Path(path), f,
      new org.apache.hadoop.fs.Path(copy, "store"), false, false,
      spark.sparkContext.hadoopConfiguration)
    val store = s"$copy/store"
    Tables.orders(spark, sfDir).limit(3).coalesce(1)
      .write.parquet(s"$store/data_orphan_cafe")
    assert(DataSkipping.vacuumOrphans(spark, store) === 1)
    assert(!f.exists(new org.apache.hadoop.fs.Path(
      s"$store/data_orphan_cafe")))
    // named data dirs survive and the pruned read still answers
    val (_, _, n2) =
      DataSkipping.countWhere(spark, store, "custkey", 30L, 120L)
    assert(n2 === want)
    assert(DataSkipping.vacuumOrphans(spark, store) === 0)
  }

  test("timestamp time travel: AS OF resolves exactly the version a reader at that instant saw") {
    import graft.operators.LakehouseMerge
    val path = tmpTable()
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    def slice(k: Int) = orders.filter(pmod(col("o_orderkey"), lit(3)) === k)
    // bracket each publish with clock readings; FS mtimes land
    // between them (same clock, millisecond granularity — sleep past
    // the boundary to keep the brackets strict)
    val t0 = System.currentTimeMillis()
    Thread.sleep(1100)
    val q1 = LakehouseMerge.upsertOrdersStream(
      spark.readStream.schema(orders.schema).parquet {
        val base = Paths.get("target", "test-tmp")
        val d = Files.createTempDirectory(base, "asof1").toString
        slice(1).coalesce(1).write.mode("overwrite").parquet(d); d
      }, path).start()
    try { q1.processAllAvailable() } finally q1.stop()
    Thread.sleep(1100)
    val t1 = System.currentTimeMillis()
    Thread.sleep(1100)
    val q2 = LakehouseMerge.upsertOrdersStream(
      spark.readStream.schema(orders.schema).parquet {
        val base = Paths.get("target", "test-tmp")
        val d = Files.createTempDirectory(base, "asof2").toString
        slice(2).coalesce(1).write.mode("overwrite").parquet(d); d
      }, path).start()
    try { q2.processAllAvailable() } finally q2.stop()
    val t2 = System.currentTimeMillis()
    assert(VersionedStore.head(spark, path) === 2)
    // before the first publish: no table for that reader
    intercept[IllegalArgumentException] {
      LakehouseMerge.versionAsOf(spark, path, t0)
    }
    // between the publishes: v1; after both: v2 (the head)
    assert(LakehouseMerge.versionAsOf(spark, path, t1) === 1)
    assert(LakehouseMerge.versionAsOf(spark, path, t2) === 2)
    assert(LakehouseMerge.readTableAsOf(spark, path, t1).count() ===
      VersionedStore.readVersion(spark, path, 1).count())
  }

  test("expire snapshots: expired versions fail cleanly, head readers untouched, crash debris swept") {
    import graft.operators.LakehouseMerge
    val path = tmpTable()
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    val base = Paths.get("target", "test-tmp")
    // three publishes through the streaming upsert (3 batches)
    val feed = Files.createTempDirectory(base, "expirefeed").toString
    (0 to 2).foreach { k =>
      orders.filter(pmod(col("o_orderkey"), lit(3)) === k)
        .coalesce(1).write.mode("overwrite").parquet(s"$feed/b$k")
    }
    val q = LakehouseMerge.upsertOrdersStream(
      spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$feed/b*"), path)
      .start()
    try { q.processAllAvailable() } finally q.stop()
    assert(VersionedStore.head(spark, path) === 3)
    val headCount = LakehouseMerge.readTable(spark, path).count()

    val (expired, swept) = LakehouseMerge.expireVersions(spark, path, 1)
    assert(expired === 2 && swept === 2)
    // head untouched; expired versions fail cleanly at resolution
    assert(LakehouseMerge.readTable(spark, path).count() === headCount)
    intercept[Exception] { VersionedStore.readVersion(spark, path, 1) }
    // idempotent
    assert(LakehouseMerge.expireVersions(spark, path, 1) === ((0, 0)))
    // crash window: a manifest-less data dir (phase-1 crash debris)
    // is invisible and the next run sweeps it
    fs(path).mkdirs(new org.apache.hadoop.fs.Path(s"$path/data_v9_dead"))
    assert(LakehouseMerge.expireVersions(spark, path, 1) === ((0, 1)))
  }

  test("DML merge rebase: the loser re-classifies against the interleaved head; replay is idempotent") {
    import graft.operators.MergeDml
    val path = tmpTable()
    MergeDml.publishBaseAt(spark, sfDir, path)
    // two writers race the SAME merge: the winner publishes v2 inside
    // the loser's stage→publish window; the loser's v2 conflicts,
    // rebases (re-classifies against v2) and publishes v3
    var interleaved = false
    val v = MergeDml.mergeStepAt(spark, sfDir, path,
      beforePublish = attempt => if (attempt == 0 && !interleaved) {
        interleaved = true
        assert(MergeDml.mergeStepAt(spark, sfDir, path) === 2)
      })
    assert(v === 3)
    // idempotence: re-applying MERGE actions against the already-
    // merged head changes nothing — v3 equals v2 row-for-row
    val v2 = VersionedStore.readVersion(spark, path, 2)
    val v3 = VersionedStore.readVersion(spark, path, 3)
    assert(v3.count() === v2.count())
    assert(v3.exceptAll(v2).count() === 0)
    // and the v3 ledger records the no-op shape: nothing inserted or
    // deleted on replay (the deletes were already gone, the inserts
    // already present — they reclassify as updates to equal values)
    val m3 = spark.read.parquet(s"$path/manifest_v3").head()
    assert(m3.getLong(4) === 0L && m3.getLong(6) === 0L,
      s"replay must insert/delete nothing: $m3")
    assert(m3.getLong(5) > 0L)
  }

  test("q107 join pruning: a sparse key set prunes interval-owning files; single range bound cannot") {
    import graft.operators.DataSkipping
    val path = DataSkipping.ensureLinear(spark, sfDir)
    // a spec-controlled sparse key set spanning the whole key space:
    // the single [min,max] bound covers every file (prunes nothing),
    // per-key interval membership prunes the gap-owning files
    val custMax = Tables.customer(spark, sfDir)
      .agg(max(col("c_custkey"))).head().getLong(0)
    val keys = Seq(1L, custMax / 2, custMax - 1)
    val (scanned, total, df) =
      DataSkipping.prunedKeySetRead(spark, path, "custkey", keys)
    assert(scanned < total, s"no pruning: $scanned/$total")
    assert(scanned >= 1)
    // the single range bound spanning the same keys touches all files
    val (rangeScanned, _, _) = DataSkipping.prunedRangeRead(spark, path,
      "custkey", keys.min, keys.max)
    assert(rangeScanned === total,
      "a scattered key set's [min,max] must cover every file here")
    // data equality with the plain recompute
    val want = Tables.orders(spark, sfDir)
      .filter(col("o_custkey").isin(keys: _*)).count()
    assert(df.count() === want)
    // empty key set: zero files, empty result
    val (s0, _, empty) =
      DataSkipping.prunedKeySetRead(spark, path, "custkey", Seq.empty)
    assert(s0 === 0 && empty.count() === 0L)
    // the registered join itself matches its plain-join recompute
    val got = DataSkipping.joinPrunedRead(spark, sfDir)
    val dim = Tables.customer(spark, sfDir)
      .filter(col("c_nationkey") === 7 && col("c_acctbal") > 5000.0)
    val wantJoin = Tables.orders(spark, sfDir).join(dim,
      col("o_custkey") === col("c_custkey")).count()
    assert(got.count() === wantJoin)
  }

  test("q94 registered query: witness column matches the manifest owners at sf0.001") {
    val got = CowErasure.vacuumedSummary(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getBoolean(4) == (r.getInt(1) == 1),
        s"source ${r.getString(0)}: v1_files_present must equal owner==1")
    }
    // both owners occur at this SF (the vacuum actually had work)
    assert(got.map(_.getInt(1)).toSet == Set(1, 2))
  }
}
