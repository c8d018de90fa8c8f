package graft.tools

import graft.GraftSession
import graft.ops.{Dedup, Similarity}
import graft.queries.Tables
import org.apache.spark.sql.functions._

/** Dev tool: print the recall of each approximate operator against its
  * exact counterpart at a given sfDir — used to pick safe-margin
  * thresholds for the oracle-checkable recall rows.
  * Usage: runMain graft.tools.RecallCheck [sfDir]
  */
object RecallCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // GRAFT_RECALL_ANN_ONLY=1 skips the document tiers (rung-dir sweeps
    // where only the embedding-side sizing rule is under test)
    if (!sys.env.contains("GRAFT_RECALL_ANN_ONLY")) {
    val docs = Tables.load(spark, sfDir, "documents")
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hamming distribution across TRUE near-dup pairs (what budget does
    // a recall-1.0 simhash candidate pass need?)
    val sk = Dedup.simhashSketches(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hams = truth.toSeq.map { case (a, b) =>
      java.lang.Long.bitCount(sk(a) ^ sk(b))
    }
    if (hams.nonEmpty)
      println(s"[recall] truth-pair hamming: max=${hams.max} " +
        s"p90=${hams.sorted.apply((hams.size * 9) / 10)} n=${hams.size}")
    for (h <- Seq(3, 8, 16, 24)) {
      val sim = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = h)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rec = if (truth.isEmpty) 1.0 else (truth intersect sim).size.toDouble / truth.size
      println(f"[recall] simhash h=$h%-2d pairs=${sim.size}%-5d truth=${truth.size} recall=$rec%.3f")
    }
    }

    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), Similarity.toDoubleVec(col("embedding")).as("vec"))
    val q = e.filter(col("id") < 20)
    val exact = Similarity.bruteForceTopK(q, e, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.srpLshTopK(q, e, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(f"[recall] srp-lsh recall=${(exact intersect lsh).size.toDouble / exact.size}%.3f")
    val ivf = Similarity.ivfTopK(q, e, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(f"[recall] ivf     recall=${(exact intersect ivf).size.toDouble / exact.size}%.3f")
    // the recall-lifted tier at the sized grid's constant probed
    // fraction: sweep (nassign, overFetch) to pick the oracle threshold
    val nCorpus = e.count()
    val nlist = Similarity.sizedIvfNlist(nCorpus)
    val nprobe = math.max(4, nlist / 4)
    val naSweep = sys.env.get("GRAFT_RECALL_NA").map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(1, 2, 3, 4))
    val ofSweep = sys.env.get("GRAFT_RECALL_OF").map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(2, 4, 8))
    for (na <- naSweep; of <- ofSweep) {
      val rr = Similarity.ivfRerankTopK(q, e, k = 5, nlist = nlist,
          nprobe = nprobe, nassign = na, overFetch = of)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"[recall] ivf-rerank nlist=$nlist nprobe=$nprobe na=$na of=$of " +
        f"recall=${(exact intersect rr).size.toDouble / exact.size}%.3f")
    }
    // the sized-knob rule under test (sizedRerankKnobs), both geometries
    {
      val (sa, so) = Similarity.sizedRerankKnobs(nCorpus)
      val rr = Similarity.ivfRerankTopK(q, e, k = 5, nlist = nlist,
          nprobe = nprobe, nassign = sa, overFetch = so)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"[recall] ivf-rerank SIZED na=$sa of=$so " +
        f"recall=${(exact intersect rr).size.toDouble / exact.size}%.3f")
    }
    // CLUSTERED geometry (the TextQueries perturbedVariants convention):
    // 6 tight jittered variants per vector — every query's true top-5 is
    // its own cluster; the rerank tier must hold >= 0.8 here too
    {
      val cl = Similarity.perturbedVariants(e, m = 6, eps = 0.02, dim = 64)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nc = cl.count()
      val cq = cl.filter(col("id") < 20)
      val cexact = Similarity.bruteForceTopK(cq, cl, k = 5)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val cnlist = Similarity.sizedIvfNlist(nc)
      val cnprobe = math.max(4, cnlist / 4)
      for (na <- naSweep; of <- ofSweep) {
        val rr = Similarity.ivfRerankTopK(cq, cl, k = 5, nlist = cnlist,
            nprobe = cnprobe, nassign = na, overFetch = of)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        println(f"[recall] ivf-rerank CLUSTERED n=$nc nlist=$cnlist nprobe=$cnprobe " +
          f"na=$na of=$of recall=${(cexact intersect rr).size.toDouble / cexact.size}%.3f")
      }
      val (sa, so) = Similarity.sizedRerankKnobs(nc)
      val rr = Similarity.ivfRerankTopK(cq, cl, k = 5, nlist = cnlist,
          nprobe = cnprobe, nassign = sa, overFetch = so)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"[recall] ivf-rerank CLUSTERED SIZED na=$sa of=$so " +
        f"recall=${(cexact intersect rr).size.toDouble / cexact.size}%.3f")
      cl.unpersist()
    }
    for (dOut <- Seq(8, 16, 32)) {
      val rp = Similarity.rpTopK(q, e, k = 5, dIn = 64, dOut = dOut)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"[recall] rp d=$dOut%-2d  recall=${(exact intersect rp).size.toDouble / exact.size}%.3f")
      for (of <- Seq(2, 4, 8)) {
        val rr = Similarity.rpRerankTopK(q, e, k = 5, dIn = 64, dOut = dOut, overFetch = of)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        println(f"[recall] rp d=$dOut%-2d of=$of%-2d rerank recall=${(exact intersect rr).size.toDouble / exact.size}%.3f")
      }
    }
    spark.stop()
  }
}
