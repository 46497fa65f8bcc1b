package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.operators.VersionedStore.PublishConflictException

/** A writer that crashes DURING its manifest write leaves a
  * marker-less `manifest_vN` (or `filestats_vN`). On each of the five
  * versioned stores: the head never resolves that debris, the store's
  * own re-run clears it and publishes, and publishing over the now
  * complete manifest throws [[PublishConflictException]].
  */
class VersionedStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  private def tmpTable(): String = {
    val base = Paths.get("target", "test-tmp")
    Files.createDirectories(base)
    Files.createTempDirectory(base, "debris").toString
  }

  /** Plants version `v`'s crashed manifest (its part file landed, its
    * `_SUCCESS` marker did not), then drives `publishV` — the store's
    * own publish of version `v` — twice. */
  private def healsAndConflicts(path: String, prefix: String, v: Int)(
      publishV: => Unit): Unit = {
    val dir = VersionedStore.manifestDir(path, v, prefix)
    spark.range(1).toDF("version").coalesce(1).write.parquet(dir)
    VersionedStore.fs(spark, dir).delete(new Path(s"$dir/_SUCCESS"), false)
    assert(VersionedStore.versions(spark, path, prefix).contains(v))
    assert(VersionedStore.head(spark, path, prefix) == v - 1,
      "the head resolved a marker-less manifest")
    publishV
    assert(VersionedStore.head(spark, path, prefix) == v,
      "the re-run did not heal the debris and publish")
    intercept[PublishConflictException](publishV)
    assert(VersionedStore.head(spark, path, prefix) == v)
  }

  test("q88 store: manifest debris is ignored, healed by the re-run, and a double publish conflicts") {
    import spark.implicits._
    val path = tmpTable()
    val v1 = Seq((1L, 2L, "10.00", "1997-01-01"),
        (2L, 1L, "5.00", "1997-02-01"))
      .toDF("o_custkey", "n_orders", "td", "ld")
      .select(col("o_custkey"), col("n_orders"),
        col("td").cast("decimal(28,2)").as("total_dec"),
        col("ld").cast("date").as("last_orderdate"))
    healsAndConflicts(path, "manifest", 1) {
      LakehouseMerge.auditAndPublish(spark, path, 1,
        VersionedStore.stage(v1, path, "v1"), 2L, 3L,
        new java.math.BigDecimal("15.00"))
    }
    assert(LakehouseMerge.readTable(spark, path).count() == 2)
  }

  test("q102 DML store: manifest debris is ignored, healed by the re-run, and a double publish conflicts") {
    val path = tmpTable()
    healsAndConflicts(path, "manifest", 1)(
      MergeDml.publishBaseAt(spark, sfDir, path))
    assert(VersionedStore.readVersion(spark, path, 1).count() ==
      VersionedStore.manifest(spark, path, 1).head().getLong(1))
  }

  test("q91 copy-on-write store: v2 manifest debris is ignored, healed by the re-run, and a double publish conflicts") {
    val path = tmpTable()
    CowErasure.publishBase(spark, sfDir, path)
    healsAndConflicts(path, "manifest", 2)(
      CowErasure.eraseCow(spark, sfDir, path, 50, 7))
    assert(CowErasure.readTable(spark, path)
      .filter(pmod(col("doc_id"), lit(50)) === 7).count() == 0)
  }

  test("q104 partition-evolution store: manifest debris is ignored, healed by the re-run, and a double publish conflicts") {
    val path = tmpTable()
    healsAndConflicts(path, "manifest", 1)(
      PartitionEvolution.publishVersion(spark, sfDir, path, 1))
    assert(VersionedStore.manifest(spark, path, 1)
      .select(col("partition_spec")).head().getString(0) == "p_year")
  }

  test("stats-skipping store: filestats debris is ignored, healed by the re-run, and a double publish conflicts") {
    val path = tmpTable()
    healsAndConflicts(path, "filestats", 1)(
      DataSkipping.publishAt(spark, sfDir, path, identity, 2))
    assert(DataSkipping.statsDf(spark, path).count() == 2)
  }
}
