package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Growth-curve harness for the catalog's heaviest queries (the
  * round-9 bench top-10): run the REAL gated query forms over
  * replicated fixture directories at two multipliers (default 10× and
  * 100× of sf0.1) and record wall seconds + scheduler job counts per
  * query. The 10×→100× wall ratio against the 10× data ratio is the
  * sub-quadratic evidence the 100 TB story needs; the job-count pair
  * proves the plan STRUCTURE is scale-invariant (a data-dependent
  * round blowup or lost checkpoint would move it).
  *
  * Replication is growth-shaped, not copy-shaped — each replica must
  * add WORK, not collapse into the original under the operators'
  * own dedup/distinct stages:
  *  - events: replica r shifts event_id AND user_id (new traffic from
  *    new users over the SAME item catalog — the production growth
  *    axis; an unshifted user_id would collapse in the basket
  *    DISTINCT and fake a flat curve);
  *  - documents: replica r rewrites every token by a replica-salted
  *    hash (disjoint vocabularies → the corpus grows 100× while the
  *    DUP RATE stays the fixture's — plain text copies would grow
  *    near-dup clusters quadratically and measure the data, not the
  *    plan);
  *  - embeddings: replica r shifts vec_id (scan/training cost is
  *    row-bound; vector values don't change the plan shape).
  *
  * Each multiplier runs in its own SparkSession (fresh memory sinks
  * for the drained streams) with shuffle partitions fixed, so the two
  * arms differ only in data volume.
  */
object ScaleCurve {

  /** BENCH_r09's top-10 wall-time queries, plus the round-10 additions
    * with corpus-scale shuffles (q203's LM scoring join, q207's native
    * session merge — the map-only r10b ops are covered by ScaleSmoke),
    * plus the round-11 non-join heavy legs: q198 (BPE training — the
    * 8 driver-coordinated rounds must stay vocab-bounded as the corpus
    * grows) and q202 (the ORC write path), plus the round-12 grouped
    * distributed-prefix family representative q227 (two histogram +
    * prefix passes — the curve proves the value-grain reduction, not
    * the raw rows, carries the growth).
    */
  val Heavy: Seq[String] = Seq(
    "q103_item_pagerank", "q136_ann_pq_trained", "q140_label_communities",
    "q79_stream_dedup", "q93_stream_left_join", "q110_item_triangles",
    "q135_incremental_clusters", "q100_ann_pq", "q82_dup_spans",
    "q50_stream_range_join", "q203_bigram_lm", "q207_native_sessions",
    "q198_bpe_train", "q202_orc_mirror", "q227_robust_outliers",
    // round-12 candidate-join additions: the growth axes to prove are
    // q230's prefix-token fan-out and q238's slice-bucket fan-out —
    // the replica-salted disjoint vocabularies keep per-replica
    // candidate neighborhoods local, so the curve measures the plan,
    // not quadratic dup growth
    "q230_ppjoin_pairs", "q238_hamming_pairs")

  private def session(): SparkSession = {
    val spark = Session.local(32)
    // the q238 wide-signature dial: the 32-bit gate geometry
    // saturates its 256-bucket slices around 10^5 docs; the curve's
    // arms run the documented scale path (60-bit / 15-bit slices)
    spark.conf.set(graft.operators.Dedup.HamBitsConf, "60")
    spark
  }

  /** Replicated fixture directory for `mult` (tables written as
    * `<name>.parquet` directories so `Tables`/`EventStream.source`
    * read them like the driver fixtures).
    */
  private def buildFixture(spark: SparkSession, sf: String, mult: Int): String = {
    val out = s"/dev/shm/graft-curve/m$mult"
    val reps = spark.range(mult).select(col("id").as("__rep"))
    val shift = lit(100000000L) * col("__rep")

    // events must land as ONE FILE literally named events.parquet: the
    // streaming source's pathGlobFilter matches LEAF file names, so a
    // directory of part-files would stream zero rows and fake a flat
    // curve for the drained queries
    val ev = Tables.events(spark, sf).crossJoin(reps)
      .withColumn("event_id", col("event_id") + shift)
      .withColumn("user_id", col("user_id") + shift)
      .drop("__rep")
    ev.coalesce(1).write.mode("overwrite").parquet(s"$out/_events_tmp")
    val tmp = new java.io.File(s"$out/_events_tmp")
    val part = tmp.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val tgt = new java.io.File(s"$out/events.parquet")
    if (tgt.exists()) tgt.delete()
    java.nio.file.Files.move(part.toPath, tgt.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    tmp.listFiles().foreach(_.delete()); tmp.delete()

    val docs = Tables.documents(spark, sf).crossJoin(reps)
      .withColumn("doc_id", col("doc_id") + shift)
      // replica-salted token rewrite: disjoint PER-REPLICA vocabulary
      // namespaces (w<rep>x<id>) keep the dup RATE constant as the
      // corpus grows. The namespace prefix is load-bearing: without it
      // (the pre-r12 form) every replica's tokens collapsed into one
      // shared 100k-token space, so document frequency grew ∝ replicas
      // and the prefix-filter / slice-bucket candidate joins (q230,
      // q238) exploded super-linearly BY FIXTURE CONSTRUCTION — the
      // 100× arm measured vocabulary saturation, not the plan (it
      // OOM'd a 128 GB heap on a corpus whose real-world Zipf df never
      // densifies that way).
      .withColumn("text", when(col("__rep") === 0, col("text")).otherwise(
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(lit("w"), col("__rep"), lit("x"),
            pmod(xxhash64(t, col("__rep")), lit(100000L)))))))
      .drop("__rep")
    docs.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Tables.embeddings(spark, sf).crossJoin(reps)
      .withColumn("vec_id", col("vec_id") + shift)
      .drop("__rep")
    emb.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    out
  }

  /** Jobs launched under a job group (the JobCountSpec probe). */
  private def jobsOf(spark: SparkSession, tag: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(tag, tag, interruptOnCancel = false)
    try f
    finally sc.clearJobGroup()
    var last = -1
    var cur = sc.statusTracker.getJobIdsForGroup(tag).length
    var spins = 0
    while (cur != last && spins < 50) {
      last = cur
      Thread.sleep(100)
      cur = sc.statusTracker.getJobIdsForGroup(tag).length
      spins += 1
    }
    cur
  }

  private def runAt(sf: String, mult: Int): Seq[(String, Double, Int)] = {
    val spark = session()
    try {
      val dir = buildFixture(spark, sf, mult)
      println(s"[curve] mult=$mult fixture=$dir built")
      Heavy.map { name =>
        val t0 = System.nanoTime()
        val jobs = jobsOf(spark, s"curve-$mult-$name") {
          SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[curve] mult=$mult $name wall=$dt%.1f s jobs=$jobs")
        (name, dt, jobs)
      }
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mults =
      if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(10, 100)
    val arms = mults.map(m => m -> runAt(sf, m))
    val lo = arms.head
    val hi = arms.last
    val dataRatio = hi._1.toDouble / lo._1
    println(f"[curve] ===== ${lo._1}x -> ${hi._1}x (data ratio $dataRatio%.0fx) =====")
    val rows = lo._2.zip(hi._2).map { case ((n, wLo, jLo), (_, wHi, jHi)) =>
      val r = wHi / math.max(wLo, 0.01)
      println(f"[curve] $n%-28s ${wLo}%7.1f s -> ${wHi}%7.1f s  ratio=$r%5.1fx  jobs=$jLo->$jHi")
      (n, r, jLo, jHi)
    }
    // sub-quadratic gate: a linear query grows ~dataRatio, a quadratic
    // one ~dataRatio² — the midpoint catches a quadratic term while
    // tolerating this host's wall noise and per-run constants
    val cap = dataRatio * dataRatio / 2.0
    val bad = rows.filter(_._2 > cap)
    require(bad.isEmpty,
      s"superlinear growth beyond ${cap}x: ${bad.map(b => s"${b._1}=${b._2}")}")
    println(s"[curve] all ${rows.size} queries sub-quadratic (cap ${cap}x)")
  }
}
