package graft.tools

import graft.operators.Similarity
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Measured recall of the PQ family against exact L2 ground truth —
  * turns "finer quantization" claims into numbers. Same pinned fits as
  * the graded queries (cells + raw codebooks from vec_id < 16, residual
  * codebooks from vec_id in [16, 32)); ground truth is brute-force
  * squared-L2 top-k over the same corpus (PQ approximates L2, so cosine
  * ground truth would conflate metric mismatch with quantization loss).
  *
  * Usage: runMain graft.tools.PqRecall [sfDir] [k] [nQueries]
  */
object PqRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val nQ = args.lift(2).map(_.toInt).getOrElse(50)
    val spark = graft.Harness.session(16)
    spark.sparkContext.setLogLevel("ERROR")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < nQ)
    val pinned = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
    val cellCents = pinned.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val centsD = cellCents.map(_.map(_.toDouble))
    val rawBooks = Similarity.pqCodebooksFromRows(centsD, m = 8)
    val pin2 = emb.filter(col("vec_id") >= 16 && col("vec_id") < 32)
      .orderBy(col("vec_id"))
      .select(col("embedding").cast(ArrayType(DoubleType))).collect()
      .map(_.getSeq[Double](0).toArray)
    def cellOf(v: Array[Double]): Int = {
      var best = -1; var bestSim = Double.NegativeInfinity
      for (ci <- centsD.indices) {
        val c = centsD(ci)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < v.length) { dot += v(i) * c(i); na += v(i) * v(i); nb += c(i) * c(i); i += 1 }
        val sim = dot / (math.sqrt(na) * math.sqrt(nb))
        if (sim > bestSim) { bestSim = sim; best = ci }
      }
      best
    }
    val resBooks = Similarity.pqCodebooksFromRows(
      pin2.map { r => val c = centsD(cellOf(r)); Array.tabulate(r.length)(i => r(i) - c(i)) },
      m = 8)

    // exact L2 ground truth: corpus streams against broadcast queries
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("qv"))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("cv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("d"), col("neighbor_id"))
    val truth = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("d", Similarity.sqDistCol(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    def recall(name: String, got: org.apache.spark.sql.DataFrame): Unit = {
      val byQ = got.select(col("query_id"), col("neighbor_id"))
        .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val r = truth.keys.toSeq.sorted.map { qid =>
        val t = truth(qid)
        byQ.getOrElse(qid, Set.empty).count(t.contains).toDouble / t.size
      }
      println(f"[recall] $name%-22s recall@$k = ${r.sum / r.size}%.3f  (n=${r.size})")
    }

    // FITTED codebooks (per-subspace Lloyd over a corpus sample) — the
    // production fit the pinned variants trade away for oracle
    // determinism; this row shows what the trade costs
    val sample = emb.select(col("embedding").cast(ArrayType(DoubleType)))
      .limit(4096).collect().map(_.getSeq[Double](0).toArray)
    def fitted(kCodes: Int): Array[Array[Array[Double]]] =
      Array.tabulate(8) { s =>
        val subs = sample.map(v => v.slice(s * 8, (s + 1) * 8).map(_.toFloat))
        Similarity.lloyd(subs, kCodes, iters = 12).map(_.map(_.toDouble))
      }
    recall("flat-PQ FITTED K=16",
      Similarity.pqTopKADC(emb, queries, "vec_id", "embedding", k, fitted(16)))
    recall("flat-PQ FITTED K=64",
      Similarity.pqTopKADC(emb, queries, "vec_id", "embedding", k, fitted(64)))
    recall("flat-PQ",
      Similarity.pqTopKADC(emb, queries, "vec_id", "embedding", k, rawBooks))
    recall("IVF-PQ nProbe=4",
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", k, cellCents, 4, rawBooks))
    recall("residual-IVFPQ np=4",
      Similarity.ivfPqResidualTopK(emb, queries, "vec_id", "embedding", k, cellCents, 4, resBooks))
    recall("IVF exact np=4 (cos)",
      Similarity.ivfTopKWithCentroids(emb, queries, "vec_id", "embedding", k, cellCents, 4))
    spark.stop()
  }
}
