package graft.operators

import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark

class SupplierDomainSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark
  import TestSpark.spark.implicits._

  describe("SupplierDomain.orphans") {
    it("equals the two left-anti-join counts on duplicates, nulls and one-sided ids") {
      // PO3 has no delivery and D9 no PO; PO2 is duplicated on the PO
      // side, PO1 on the delivery side, PO4 (unmatched) on the PO side;
      // each side has a null po_id, which matches nothing
      val po = Seq[(String, String)](("PO1", "S1"), ("PO2", "S1"), ("PO2", "S2"),
          ("PO3", "S2"), ("PO4", "S3"), ("PO4", "S3"), (null, "S1"))
        .toDF("po_id", "supplier_id")
      val d = Seq[(String, Int)](("PO1", 10), ("PO1", 11), ("PO2", 12), ("D9", 13), (null, 14))
        .toDF("po_id", "quantity_delivered")

      val posWithoutDelivery = po.join(d.select("po_id"), Seq("po_id"), "left_anti").count()
      val deliveriesWithoutPo = d.join(po.select("po_id"), Seq("po_id"), "left_anti").count()
      assert((posWithoutDelivery, deliveriesWithoutPo) == ((4L, 2L)))
      assert(SupplierDomain.orphans(po, d) == ((posWithoutDelivery, deliveriesWithoutPo)))
    }
  }
}
