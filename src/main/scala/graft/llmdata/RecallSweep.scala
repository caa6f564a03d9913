package graft.llmdata

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall/latency sweep over the persisted IVF-PQ index's two serving
  * knobs — nprobe (fraction of cells each query reads) and the rerank
  * candidate depth — plus nlist, the build-time cell count. Prints
  * recall@k for ADC-only and retrieve+rerank next to the measured
  * search wall time, so the operating point pinned in e07/e08/e09 is
  * a MEASURED knee, not a guess.
  *
  * On an isotropic corpus (the driver's synthetic embeddings — the
  * hostile case for ANN) candidate recall is ≈ nprobe/nlist by
  * construction: cells carve the sphere into random regions, so the
  * probability that a true neighbor lands in a probed cell is the
  * probed fraction. The sweep therefore shows WHERE rerank saturates
  * against that line, which is the honest knee this corpus has.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 java -cp ... \
  *     graft.llmdata.RecallSweep
  * `SPARK_GRAFT_CPUS` sets the cores (default 4, as for every
  * [[graft.GraftSession]]).
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession()

    val emb = graft.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 20)
    val k = 3

    def topSets(df: DataFrame): Map[Long, Set[Long]] =
      df.collect()
        .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val truth = topSets(
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k))
    def recall(got: Map[Long, Set[Long]]): Double = {
      val hits = truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      hits.sum / hits.size
    }
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    println(f"${"nlist"}%6s ${"nprobe"}%6s ${"frac"}%6s ${"depth"}%6s " +
      f"${"adc@3"}%8s ${"rerank@3"}%9s ${"adc_s"}%7s ${"rerank_s"}%8s")
    for (nlist <- Seq(16, 32)) {
      val table = s"graft_sweep_${nlist}_${System.nanoTime()}"
      AnnIndex.build(spark, table, emb, "vec_id", "embedding",
        nlist = nlist, m = 4, kCodes = 16, residual = true)
      val probes = if (nlist == 16) Seq(2, 4, 6, 8, 11, 16)
                   else Seq(4, 8, 12, 16, 22, 32)
      for (nprobe <- probes) {
        val (adc, tAdc) = timed(topSets(AnnIndex.search(
          spark, table, queries, "vec_id", "embedding", k, nprobe)))
        val adcR = recall(adc)
        for (depth <- Seq(12, 24, 48)) {
          val (rr, tRr) = timed(topSets(Similarity.rerankTopK(
            queries, emb,
            AnnIndex.search(spark, table, queries, "vec_id", "embedding",
              depth, nprobe),
            "vec_id", "embedding", k)))
          println(f"$nlist%6d $nprobe%6d ${nprobe.toDouble / nlist}%6.2f " +
            f"$depth%6d $adcR%8.4f ${recall(rr)}%9.4f $tAdc%7.2f $tRr%8.2f")
        }
      }
    }
    spark.stop()
  }
}
