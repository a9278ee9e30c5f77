package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark

class HammingSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark

  describe("Hamming-radius simhash join (q238)") {
    it("matches a brute-force all-pairs sweep exactly (recall = 1)") {
      val planted = Dedup.replicaPlanted(
        graft.sources.Tables.documents(spark, TestSpark.Sf))
      val sh = Dedup.simhashFrom(planted).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // brute: every pair within the radius, histogrammed by distance
      val brute = scala.collection.mutable.Map.empty[Int, (Long, Set[Long])]
      for (i <- sh.indices; j <- (i + 1) until sh.length) {
        val d = java.lang.Long.bitCount(sh(i)._2 ^ sh(j)._2)
        if (d <= Dedup.HamRadius) {
          val (np, ds) = brute.getOrElse(d, (0L, Set.empty[Long]))
          brute(d) = (np + 1, ds + sh(i)._1 + sh(j)._1)
        }
      }
      val got = Dedup.hammingPairsFrom(planted).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got.keySet == brute.keySet)
      brute.foreach { case (d, (np, ds)) =>
        assert(got(d) == ((np, ds.size.toLong)), s"dist $d")
      }
      // the replica plants guarantee non-vacuous distance-0 mass
      assert(got.contains(0) && got(0)._1 > 0L)
    }

    it("keeps recall = 1 on the 60-bit wide-signature dial") {
      val planted = Dedup.replicaPlanted(
        graft.sources.Tables.documents(spark, TestSpark.Sf))
      graft.plans.GraftFunctions.register(spark)
      val sh = planted.select(col("doc_id"),
          org.apache.spark.sql.functions.call_function("simhash60", col("text")).as("sh"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val brute = scala.collection.mutable.Map.empty[Int, Long]
      for (i <- sh.indices; j <- (i + 1) until sh.length) {
        val d = java.lang.Long.bitCount(sh(i)._2 ^ sh(j)._2)
        if (d <= Dedup.HamRadius)
          brute(d) = brute.getOrElse(d, 0L) + 1
      }
      val got = Dedup.hammingPairsFrom(planted, bits = 60).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == brute.toMap)
      assert(got.getOrElse(0, 0L) > 0L) // replicas still collide at 0
    }

    it("is partitioning-invariant") {
      val planted = Dedup.replicaPlanted(
        graft.sources.Tables.documents(spark, TestSpark.Sf))
      val a = Dedup.hammingPairsFrom(planted).collect().toSeq
      val b = Dedup.hammingPairsFrom(planted.repartition(7)).collect().toSeq
      assert(a == b)
    }
  }
}
