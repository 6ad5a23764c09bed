package graft

import org.apache.spark.sql.functions._

/** One-off diagnostic for pinning s12's spec floors across PQ configs. */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val d = "/root/testdata/sf0.01"
    val c = Tables.embeddings(spark, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val dotc = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.functions.VectorOps.dotProduct(a, b)
    val vn = c.withColumn("nrm", graft.functions.VectorOps.l2Norm($"v"))
      .select($"vec_id", transform($"v", x => x / $"nrm").as("vn"))
    val qq = vn.filter($"vec_id" < 20).select($"vec_id".as("q_id"), $"vn".as("qn"))
    val truth = vn.crossJoin(broadcast(qq)).filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        (lit(2.0) - lit(2.0) * dotc($"vn", $"qn")).as("true_d2")).cache()
    val exactTop = truth
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"q_id").orderBy($"true_d2".asc, $"n_id".asc)))
      .filter($"rk" <= 3).select($"q_id", $"n_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val pairs = operators.Similarity.s02EmbeddingNearDup(spark, d)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    val pairDf = pairs.toSeq.toDF("q_id", "n_id")

    for ((dsub, k, iters) <- Seq((8, 16, 2), (4, 16, 2), (4, 16, 4), (2, 16, 3), (4, 32, 3))) {
      val sv = operators.Similarity.pqSubvectors(c, dsub).cache()
      val books = operators.Similarity.pqCodebooks(sv, k, iters)
      val codes = operators.Similarity.pqCodes(sv, books)
      val dtab = sv.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"sub", $"sv".as("qsv"))
        .join(broadcast(books), Seq("sub"))
        .select($"q_id", $"sub", $"cid",
          round(dotc($"qsv", $"qsv") - lit(2.0) * dotc($"qsv", $"cv") +
            dotc($"cv", $"cv"), 6).as("d2q"))
      val adc = codes.select($"vec_id".as("n_id"), posexplode($"codes"))
        .toDF("n_id", "sub", "cid")
        .join(broadcast(dtab), Seq("sub", "cid"))
        .filter($"n_id" =!= $"q_id")
        .groupBy($"q_id", $"n_id").agg(graft.Det.dsum($"d2q").as("adc")).cache()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"q_id").orderBy($"adc".asc, $"n_id".asc)
      val top = adc.withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
        .select($"q_id", $"n_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (kk, v) => kk -> v.map(_._2).toSet }
      val rec = exactTop.keys.toSeq
        .map(x => (exactTop(x) & top.getOrElse(x, Set.empty)).size / 3.0)
      val err = truth.join(adc, Seq("q_id", "n_id"))
        .agg(avg(abs($"adc" - $"true_d2")), max(abs($"adc" - $"true_d2")))
        .collect().head
      val sep = adc.join(pairDf, Seq("q_id", "n_id")).agg(avg($"adc")).collect().head.getDouble(0)
      val overall = adc.agg(avg($"adc")).collect().head.getDouble(0)
      println(f"dsub=$dsub K=$k iters=$iters  recall@3=${rec.sum / rec.size}%.3f  " +
        f"mae=${err.getDouble(0)}%.4f maxe=${err.getDouble(1)}%.4f  " +
        f"pairADC=$sep%.4f overallADC=$overall%.4f")
      adc.unpersist(); sv.unpersist()
    }
    spark.stop()
  }
}
