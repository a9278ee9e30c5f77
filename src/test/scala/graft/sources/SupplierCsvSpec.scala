package graft.sources

import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark
import graft.TestSpark.RefData
import graft.operators.SupplierDomain

class SupplierCsvSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark

  /** The repo-held fixture in the reference's CSV layout (FIXTURES.md §A),
    * plus the reference's own seed-42 CSVs wherever that checkout is.
    */
  private lazy val fixture =
    new java.io.File(getClass.getResource("/supplier-csv").toURI).getPath
  private lazy val inputs = fixture +: (if (RefData.present) Seq(RefData.Dir) else Nil)

  describe("explicit-schema CSV source/sink") {
    it("round-trips the suppliers table with declared types intact") {
      for (data <- inputs) {
        val in = SupplierCsv.read(spark, s"$data/suppliers.csv", "suppliers")
        val dir = "/dev/shm/graft-test-csv/suppliers"
        SupplierCsv.write(in, dir)
        val back = SupplierCsv.read(spark, dir, "suppliers")
        assert(back.schema == SupplierCsv.suppliersSchema)
        assert(back.count() == in.count())
        assert(back.collect().map(_.toString).sorted.toSeq ==
          in.collect().map(_.toString).sorted.toSeq)
      }
    }

    it("parses ISO dates into DateType") {
      for (data <- inputs) {
        val po = SupplierCsv.read(spark, s"$data/purchase_orders.csv", "purchase_orders")
        val r = po.orderBy("po_id").collect()(0)
        assert(r.getAs[java.sql.Date]("order_date") != null)
        assert(r.schema("order_date").dataType.typeName == "date")
      }
    }

    it("rejects a header out of DDL order") {
      // loaded by position, this file would read supplier_id = "Supplier 01"
      val dir = java.nio.file.Files.createTempDirectory("graft-csv-header")
      val f = dir.resolve("suppliers.csv")
      try {
        java.nio.file.Files.write(f, java.util.Arrays.asList(
          "supplier_name,supplier_id,category,country,financial_risk_score",
          "Supplier 01,S001,Electronics,DE,37"))
        val e = intercept[Exception](
          SupplierCsv.read(spark, f.toString, "suppliers").collect())
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).toSeq
        assert(msgs.exists(_.contains("CSV header does not conform to the schema")),
          msgs.mkString("\n"))
      } finally {
        java.nio.file.Files.deleteIfExists(f)
        java.nio.file.Files.deleteIfExists(dir)
      }
    }

    it("reads every field of the CRLF-ended layout fixture with its keys intact") {
      val t = SupplierCsv.schemas.keys.map(n => n -> SupplierCsv.read(spark, s"$fixture/$n.csv", n)).toMap
      for ((n, df) <- t; row <- df.collect())
        assert(!row.anyNull, s"$n: $row") // a stray \r would null the last column
      assert(t("suppliers").orderBy("supplier_id").collect()
        .map(_.getAs[Int]("financial_risk_score")).toSeq == Seq(37, 82, 12, 55))
      assert(t("purchase_orders").count() == 8 && t("deliveries").count() == 8)
      assert(SupplierDomain.orphans(t("purchase_orders"), t("deliveries")) == ((0L, 0L)))
    }
  }
}
