package graft.sources

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark

class AtomicWarehouseSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark
  private val root = "/dev/shm/graft-test-atomic"

  private def snapshot(v: Long) =
    spark.range(0, 200).select(lit(v).as("v"), col("id"))

  describe("atomic overwrite") {
    it("readers never observe a partial or mixed table during overwrites") {
      AtomicWarehouse.overwrite(snapshot(0), root, "t")
      @volatile var stop = false
      val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
      val reads = new java.util.concurrent.atomic.AtomicInteger(0)
      val reader = new Thread(() => {
        while (!stop && bad.get == null) {
          try {
            val rows = AtomicWarehouse.read(spark, root, "t").collect()
            val vs = rows.map(_.getLong(0)).distinct
            // a half-written table shows up as a short row count; a
            // non-atomic swap as rows from two versions at once
            if (rows.length != 200 || vs.length != 1)
              bad.set(s"partial read: rows=${rows.length} versions=${vs.mkString(",")}")
            reads.incrementAndGet()
          } catch {
            case e: Exception => bad.set(s"reader threw: $e")
          }
        }
      })
      reader.start()
      (1 to 5).foreach(v => AtomicWarehouse.overwrite(snapshot(v), root, "t"))
      stop = true
      reader.join(30000)
      assert(bad.get == null, s"${bad.get}")
      assert(reads.get > 0, "reader never completed a read")
      assert(AtomicWarehouse.read(spark, root, "t")
        .agg(max("v")).collect()(0).getLong(0) == 5L)
    }

    it("garbage-collects generations beyond two once the grace period lapses") {
      (0 to 3).foreach(v => AtomicWarehouse.overwrite(snapshot(v), root, "g", gcGraceMs = 0L))
      val versions = new File(root, "g").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("v-"))
      assert(versions.length == 2, s"expected current+previous, got ${versions.map(_.getName).toSeq}")
      assert(AtomicWarehouse.read(spark, root, "g")
        .agg(max("v")).collect()(0).getLong(0) == 3L)
    }

    it("falls back to the plain directory for non-versioned tables") {
      snapshot(9).write.mode("overwrite").parquet(s"$root/plain")
      assert(AtomicWarehouse.read(spark, root, "plain").count() == 200)
    }
  }

  describe("a version carries its schema") {
    /** Non-nullable, nested struct, array and map columns. */
    def nested = spark.range(0, 50).select(
      col("id"),
      struct(col("id").as("a"), lit("x").as("b"), array(lit(1), lit(2)).as("c")).as("s"),
      array(col("id"), lit(7L)).as("arr"),
      array(struct(col("id").as("x"))).as("arr_s"),
      map(lit("k"), struct(col("id").as("y"))).as("m"))

    lazy val tables: Seq[(String, String)] = {
      val dag = s"$root/dag"
      graft.app.Pipeline.generate(spark, dag, nSuppliers = 6, nPos = 60, seed = 3L)
      graft.app.Pipeline.load(spark, dag)
      graft.app.Pipeline.kpis(spark, dag)
      graft.app.Pipeline.risk(spark, dag)
      AtomicWarehouse.overwrite(nested, root, "nested")
      Seq("suppliers", "purchase_orders", "deliveries", "supplier_kpis",
        "supplier_risk_summary").map(s"$dag/wh" -> _) :+ (root -> "nested")
    }

    it("reads back exactly the schema inference gives, nested and non-nullable columns included") {
      assert(nested.schema("id").nullable == false, "fixture lost its non-nullable column")
      for ((wh, t) <- tables)
        assert(AtomicWarehouse.read(spark, wh, t).schema ==
          spark.read.parquet(AtomicWarehouse.currentPath(wh, t)).schema, t)
    }

    it("opens a table without launching a job") {
      for ((wh, t) <- tables)
        assert(TestSpark.jobsOf(s"aw-read-$t")(AtomicWarehouse.read(spark, wh, t)) == 0, t)
      // the probe is live: the inference path does launch a job
      assert(TestSpark.jobsOf("aw-infer")(spark.read.parquet(
        AtomicWarehouse.currentPath(root, "nested"))) > 0)
    }

    it("still reads a version directory without the schema file") {
      AtomicWarehouse.overwrite(nested, root, "noschema")
      val before = AtomicWarehouse.read(spark, root, "noschema")
      val rows = before.orderBy("id").collect().toSeq
      assert(new File(AtomicWarehouse.currentPath(root, "noschema"), "_schema.json").delete())
      val after = AtomicWarehouse.read(spark, root, "noschema")
      assert(after.schema == before.schema)
      assert(after.orderBy("id").collect().toSeq == rows)
    }

    it("returns the number of rows it published") {
      val frames = Seq("all" -> snapshot(1), "some" -> snapshot(2).filter(col("id") % 3 === 0),
        "none" -> snapshot(3).filter(col("id") < 0), "nested" -> nested)
      for ((t, df) <- frames) {
        val n = AtomicWarehouse.overwrite(df, s"$root/counts", t)
        assert(n == AtomicWarehouse.read(spark, s"$root/counts", t).count(), t)
      }
    }
  }
}
