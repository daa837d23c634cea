package graft

import graft.catalog.DistributionCatalog
import graft.sources.Dml
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PG row semantics + copy-on-write layout preservation for the DML
  * surface (reference: merge_planner.c / multi_router_planner.c), and
  * the snapshot commit behind `mergeIntoTable`. */
class DmlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The `graft.*` properties of catalog table `name`. */
  private def catalogProperties(name: String): Map[String, String] =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(name))
      .properties.filter(_._1.startsWith("graft."))

  private def warehouseDir(table: String): java.io.File =
    new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath, table)

  test("updateWhere: NULL condition leaves the row untouched (PG)") {
    val df = Seq((1, Some(10.0)), (2, None), (3, Some(60.0)))
      .toDF("id", "v")
    val out = Dml.updateWhere(df, col("v") > 50, Map("v" -> lit(-1.0)))
      .orderBy("id").collect()
    assert(out.map(r => Option(r.get(1))).toSeq ===
      Seq(Some(10.0), None, Some(-1.0)))
  }

  test("deleteWhere: NULL condition keeps the row (PG)") {
    val df = Seq((1, Some(10.0)), (2, None), (3, Some(60.0)))
      .toDF("id", "v")
    val out = Dml.deleteWhere(df, col("v") > 50).orderBy("id").collect()
    assert(out.map(_.getInt(0)).toSeq === Seq(1, 2))
  }

  test("updateWhere assignments all read the pre-update row") {
    val df = Seq((1, 2.0, 3.0)).toDF("id", "a", "b")
    // swap a and b — only simultaneous (old-row) evaluation gives (3, 2)
    val out = Dml.updateWhere(df, lit(true),
      Map("a" -> col("b"), "b" -> col("a"))).collect().head
    assert((out.getDouble(1), out.getDouble(2)) === (3.0, 2.0))
  }

  test("merge covers all three row fates incl. matched-delete") {
    val target = Seq((1, "keep"), (2, "update-me"), (3, "delete-me"))
      .toDF("id", "v")
    val source = Seq((2, "updated", false), (3, "", true), (4, "inserted", false))
      .toDF("k", "nv", "del")
    val out = Dml.merge(target, source, "id", "k", Dml.MergeClauses(
        matchedUpdate = Map("v" -> col("s.nv")),
        matchedDelete = Some(col("s.del")),
        notMatchedInsert = Some(Map("id" -> col("s.k"), "v" -> col("s.nv")))))
      .orderBy("id").as[(Int, String)].collect().toSeq
    assert(out === Seq((1, "keep"), (2, "updated"), (4, "inserted")))
  }

  test("merge without insert clause drops source-only rows") {
    val target = Seq((1, "keep"), (2, "update-me"), (3, "delete-me"),
      (4, "null-delete")).toDF("id", "v")
    val source = Seq((2, "updated", Some(false)), (3, "", Some(true)),
      (4, "null-updated", None), (9, "never", Some(false)))
      .toDF("k", "nv", "del")
    val out = Dml.merge(target, source, "id", "k", Dml.MergeClauses(
        matchedUpdate = Map("v" -> col("s.nv")),
        matchedDelete = Some(col("s.del"))))
      .orderBy("id").as[(Int, String)].collect().toSeq
    // a NULL delete condition deletes nothing (PG)
    assert(out === Seq((1, "keep"), (2, "updated"), (4, "null-updated")))
  }

  test("insertOnConflict: DO NOTHING keeps existing rows, DO UPDATE upserts") {
    val target = Seq((1, 10.0), (2, 20.0)).toDF("id", "v")
    val source = Seq((2, 99.0), (3, 30.0)).toDF("id", "v")
    val nothing = Dml.insertOnConflictDoNothing(target, source, "id")
      .orderBy("id").as[(Int, Double)].collect().toSeq
    assert(nothing === Seq((1, 10.0), (2, 20.0), (3, 30.0)),
      "DO NOTHING must drop the conflicting source row")
    val upsert = Dml.insertOnConflictDoUpdate(target, source, "id",
        Map("v" -> col("s.v")))
      .orderBy("id").as[(Int, Double)].collect().toSeq
    assert(upsert === Seq((1, 10.0), (2, 99.0), (3, 30.0)),
      "DO UPDATE must take the proposed (excluded) row's value")
  }

  test("mergeIntoTable rewrites copy-on-write, keeping bucket layout") {
    DistributionCatalog.createDistributedTable(spark,
      Seq((1, 100.0), (2, 200.0)).toDF("id", "bal"), "dml_acct", "id",
      buckets = 4)
    val specBefore = DistributionCatalog.spec(spark, "dml_acct").get
    Dml.mergeIntoTable(spark, "dml_acct",
      Seq((2, 250.0), (3, 300.0)).toDF("k", "nb"), "k",
      Dml.MergeClauses(
        matchedUpdate = Map("bal" -> col("s.nb")),
        notMatchedInsert = Some(Map("id" -> col("s.k"), "bal" -> col("s.nb")))))
    val after = spark.table("dml_acct").orderBy("id")
      .as[(Int, Double)].collect().toSeq
    assert(after === Seq((1, 100.0), (2, 250.0), (3, 300.0)))
    val specAfter = DistributionCatalog.spec(spark, "dml_acct").get
    assert(specAfter.bucketCount === specBefore.bucketCount)
    assert(specAfter.distColumn === specBefore.distColumn)
    // a table alone in its group keeps its group
    assert(specAfter.colocationId === specBefore.colocationId)
  }

  test("a no-insert merge of a 32-bucket table runs at most 2 jobs: " +
      "the source broadcast and one bucketed write") {
    DistributionCatalog.createDistributedTable(spark,
      spark.range(0, 2000).select(col("id"), (col("id") * 2.0).as("v")),
      "dml_jobs", "id")
    val jobs = TestSpark.jobsOf(Dml.mergeIntoTable(spark, "dml_jobs",
      spark.range(100, 300).toDF("k"), "k",
      Dml.MergeClauses(matchedUpdate = Map("v" -> (col("t.v") + lit(1.0))))))
    assert(jobs <= 2, s"merge ran $jobs jobs")
    val r = spark.table("dml_jobs").agg(count(lit(1)), sum("v")).head()
    assert(r.getLong(0) === 2000L)
    assert(r.getDouble(1) === (0 until 2000).map(_ * 2.0).sum + 200.0)
  }

  test("a merge that fails mid-write leaves the old version readable, " +
      "routable and its spec unchanged, with no staging left") {
    DistributionCatalog.createDistributedTable(spark,
      (1 to 40).map(i => (i, i * 10.0)).toDF("id", "bal").coalesce(1),
      "dml_fail", "id", buckets = 4)
    val specBefore = DistributionCatalog.spec(spark, "dml_fail").get
    val rowsBefore = spark.table("dml_fail").orderBy("id")
      .as[(Int, Double)].collect().toSeq
    val tablesBefore = spark.catalog.listTables().collect().map(_.name).toSet
    val boom = udf { (k: Int, v: Double) =>
      if (k == 17) throw new IllegalStateException("boom") else v }
    intercept[Exception](Dml.mergeIntoTable(spark, "dml_fail",
      (1 to 40).map(k => (k, -1.0)).toDF("k", "nb"), "k",
      Dml.MergeClauses(matchedUpdate =
        Map("bal" -> boom(col("s.k"), col("s.nb"))))))
    assert(spark.table("dml_fail").orderBy("id").as[(Int, Double)]
      .collect().toSeq === rowsBefore)
    val pinned = Graft.pgSqlParams(spark,
      "SELECT id, bal FROM dml_fail WHERE id = $1", 17)
    assert(pinned.inputFiles.length === 1)
    assert(pinned.as[(Int, Double)].collect().toSeq === Seq((17, 170.0)))
    assert(DistributionCatalog.spec(spark, "dml_fail") === Some(specBefore))
    assert(spark.catalog.listTables().collect().map(_.name).toSet ===
      tablesBefore)
    assert(Option(warehouseDir("dml_fail").list()).getOrElse(Array.empty)
      .filter(_.startsWith("_v")).isEmpty)
  }

  test("a failed merge leaves no version directory, also when its other " +
      "tasks finish after the failure") {
    DistributionCatalog.createDistributedTable(spark,
      (1 to 40).map(i => (i, i * 10.0)).toDF("id", "bal").coalesce(1),
      "dml_fail_race", "id", buckets = 4)
    val boom = udf { (k: Int, v: Double) =>
      if (k == 17) throw new IllegalStateException("boom") else v }
    // tiny tasks: the others often commit while the job is aborted
    (1 to 30).foreach { i =>
      intercept[Exception](Dml.mergeIntoTable(spark, "dml_fail_race",
        (1 to 40).map(k => (k, -1.0)).toDF("k", "nb"), "k",
        Dml.MergeClauses(matchedUpdate =
          Map("bal" -> boom(col("s.k"), col("s.nb"))))))
      assert(Option(warehouseDir("dml_fail_race").list())
        .getOrElse(Array.empty).filter(_.startsWith("_v")).isEmpty,
        s"failed merge $i left a version directory")
    }
  }

  test("consecutive merges keep one live version on disk") {
    DistributionCatalog.createDistributedTable(spark,
      (1 to 20).map(i => (i, 0.0)).toDF("id", "bal"), "dml_versions", "id",
      buckets = 4)
    (1 to 3).foreach { _ =>
      Dml.mergeIntoTable(spark, "dml_versions",
        (1 to 10).toDF("k"), "k",
        Dml.MergeClauses(matchedUpdate = Map("bal" -> (col("t.bal") + 1.0))))
    }
    assert(spark.table("dml_versions").orderBy("id").as[(Int, Double)]
      .collect().toSeq === (1 to 20).map(i => (i, if (i <= 10) 3.0 else 0.0)))
    val versions = warehouseDir("dml_versions").listFiles()
    assert(versions.length === 1 && versions.head.getName.startsWith("_v"),
      "the first version's files and older versions must be deleted")
    assert(DistributionCatalog.totalRelationSize(spark, "dml_versions") ===
      versions.head.listFiles().filterNot(f =>
        f.getName.startsWith("_") || f.getName.startsWith("."))
        .map(_.length).sum)
  }

  test("a merge deletes old versions only under the table's warehouse " +
      "path") {
    val rows = (1 to 8).map(i => (i, 0.0)).toDF("id", "bal")
    DistributionCatalog.createDistributedTable(spark, rows, "dml_moved",
      "id", buckets = 4)
    // recreated by plain Spark at a path of its own, with the spec it
    // had recorded again in its catalog properties
    val props = catalogProperties("dml_moved")
    val elsewhere = java.nio.file.Files.createTempDirectory("dml_moved")
      .toFile
    val moved = new java.io.File(elsewhere, "t")
    spark.sql("DROP TABLE dml_moved")
    rows.write.bucketBy(4, "id").sortBy("id").option("path", moved.getPath)
      .format("parquet").saveAsTable("dml_moved")
    spark.sql("ALTER TABLE dml_moved SET TBLPROPERTIES (" + props
      .map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
    assert(DistributionCatalog.spec(spark, "dml_moved").nonEmpty)
    try {
      Dml.mergeIntoTable(spark, "dml_moved", Seq(1).toDF("k"), "k",
        Dml.MergeClauses(matchedUpdate = Map("bal" -> (col("t.bal") + 1.0))))
      assert(spark.table("dml_moved").orderBy("id").as[(Int, Double)]
        .collect().toSeq === (1 to 8).map(i => (i, if (i == 1) 1.0 else 0.0)))
      assert(moved.listFiles().exists(_.getName.endsWith(".parquet")),
        "files outside the warehouse path must be left alone")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(elsewhere)
    }
  }

  test("mergeIntoTable on a table with isolated tenants: an updated and " +
      "an inserted row land in their tenant's partition") {
    DistributionCatalog.createDistributedTable(spark,
      Seq((1, 1.0), (2, 2.0), (3, 3.0)).toDF("id", "bal"), "dml_iso", "id",
      buckets = 4)
    // tenant 4 is isolated before it has a row
    Seq(2, 4).foreach(DistributionCatalog.isolateTenant(spark, "dml_iso", _))
    Dml.mergeIntoTable(spark, "dml_iso", Seq((2, 9.0), (4, 4.0)).toDF("k", "nb"),
      "k", Dml.MergeClauses(matchedUpdate = Map("bal" -> col("s.nb")),
        notMatchedInsert = Some(Map("id" -> col("s.k"), "bal" -> col("s.nb")))))
    Seq(2 -> 9.0, 4 -> 4.0).foreach { case (k, bal) =>
      val df = DistributionCatalog.tenantShard(spark, "dml_iso", k)
      assert(df.as[(Int, Double)].collect().toSeq === Seq((k, bal)))
      assert(df.inputFiles.nonEmpty &&
        df.inputFiles.forall(_.contains(s"/__tenant=$k/")),
        s"tenant $k must read only its own files")
    }
    assert(DistributionCatalog.table(spark, "dml_iso").orderBy("id")
      .as[(Int, Double)].collect().toSeq ===
      Seq((1, 1.0), (2, 9.0), (3, 3.0), (4, 4.0)))
  }
}
