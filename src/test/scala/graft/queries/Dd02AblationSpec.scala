package graft.queries

import graft.{GraftSession, SparkSpec}
import graft.llmdata.DedupFunctions

/** Pins the dd02 exchange-payload decision (see the design note on
  * DedupFunctions.ngramJaccardLsh): the serving ids+rejoin shape and
  * the carried-arrays ablation must emit identical pair sets, and the
  * serving shape must keep its measured shuffle-byte advantage — if
  * the carried shape ever shuffles LESS, the decision should flip. */
class Dd02AblationSpec extends SparkSpec {
  // noop sink, not count(): count() would let Catalyst prune the
  // shingle payloads out of the exchanges being compared (r7 lesson);
  // the listener harness is SparkSpec.shuffleWriteBytesOf, shared with
  // ScaleSpec
  private def bytesOf(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val bytes = shuffleWriteBytesOf {
      df.write.mode("overwrite").format("noop").save()
    }
    (bytes, df.count())
  }
  test("serving (ids+rejoin) shape: same output, less shuffle than carried") {
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val docs = graft.Tables.documents(spark, s"/root/testdata/$sf")
      def sweep() = GraftSession.release(spark)
      val (bCarried, nCarried) =
        bytesOf(DedupFunctions.ngramJaccardLshCarried(docs))
      sweep()
      val (bServing, nServing) =
        bytesOf(DedupFunctions.ngramJaccardLsh(docs))
      sweep()
      info(f"$sf carried: $bCarried%,d B ($nCarried rows); " +
        f"serving: $bServing%,d B ($nServing rows)")
      assert(nCarried == nServing, "shapes must emit identical pair counts")
      // full row-set equality, not just counts
      val a = DedupFunctions.ngramJaccardLshCarried(docs)
        .collect().map(_.toString).sorted.toSeq
      val b = DedupFunctions.ngramJaccardLsh(docs)
        .collect().map(_.toString).sorted.toSeq
      sweep()
      assert(a == b, "shapes diverged on pair rows or scores")
      // measured r7: 247 KB vs 6 KB (sf0.01), 20.9 MB vs 0.5 MB (sf0.1)
      assert(bServing <= bCarried,
        s"serving shape now shuffles MORE ($bServing > $bCarried) — " +
          "re-run the ablation and flip the shape if it holds")
    }
  }
}
