package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.TextFunctions
import graft.operators.{Dedup, Packing, Similarity}
import graft.queries.DocQueries
import graft.sources.Tables

/** A batch curation pass over documents/embeddings held in the warm
  * Tables.cacheAll cache: MinHash near-dup, semantic assign + ε-dedup
  * (ClusterEpsAgg), top-k KNN graph (ClusterTopK), tokenize + pack, and a
  * pack write round trip. Parameters are those of the registry entries
  * dedup_minhash_full, semdedup_assign_16 / dedup_semantic, knn_graph,
  * pack_sequences / pack_summary and pack_write_roundtrip.
  */
object Curate {
  def run(spark: SparkSession, rec: Recorder, work: String,
      seconds: Double): Map[String, Any] = {
    val corpus = s"$work/inputs/corpus"
    var dir = ""
    for (rep <- 1 to Main.SetupReps) {
      // a fresh directory per repetition: the cache is keyed by it
      val next = s"$work/corpus$rep"
      Main.linkTree(corpus, next)
      rec.setup(rep)(Tables.cacheAll(spark, next))
      if (dir.nonEmpty) release(spark, dir)
      dir = next
    }
    rec.mark("setup")
    // one untimed pass over the same corpus first: the operators' hot loops
    // are compiled for its sizes before the clock runs (a pass over a
    // small corpus left the first timed pass 30-60 % slower than the next)
    rec.recording = false
    pass(spark, rec, 0, dir, s"$work/warmup-out")
    rec.recording = true
    rec.mark("warmup")
    val rounds = Main.rounds(seconds)(r => pass(spark, rec, r, dir, s"$work/r$r"))
    rec.mark("window")
    rec.windowEnd()
    JsonFile.write(s"$work/oracle_sql.json", Map(
      "pack_summary" -> DocQueries.packSummarySql,
      "pack_write_roundtrip" -> DocQueries.packWriteRoundtripSql))
    Map("rounds" -> rounds, "corpus" -> corpus)
  }

  private def release(spark: SparkSession, dir: String): Unit =
    Seq("documents", "embeddings").foreach(n => Tables.load(spark, dir, n).unpersist(true))

  private def rowsOut(rec: Recorder, id: String, kind: String, r: Int,
      cols: Seq[String], rows: Array[org.apache.spark.sql.Row]): () => Unit = () =>
    rec.output(id, kind, Map("round" -> r, "cols" -> cols,
      "rows" -> rows.toSeq.map(row => cols.indices.map(row.get))))

  private def pass(spark: SparkSession, rec: Recorder, r: Int, dir: String,
      out: String): Unit = {
    val docs = Tables.load(spark, dir, "documents")
    val emb = Tables.load(spark, dir, "embeddings")
    var assigned: DataFrame = null

    rec.op(r, "minhash_dedup", "minhash_dedup") { id =>
      val rows = Main.collect(rec, "Dedup.nearDuplicates")(
        Dedup.nearDuplicates(docs, col("doc_id"), col("text"),
          threshold = 0.5, bands = 32))
      rowsOut(rec, id, "minhash_dedup", r, Seq("id_a", "id_b", "jaccard"), rows)
    }

    rec.op(r, "semantic_assign", "semantic_assign") { id =>
      val a = rec.span("build:Similarity.semanticAssign")(
        Similarity.semanticAssign(emb, col("vec_id"), col("embedding"), nList = 16))
      rec.span("plan:semanticAssign")(a.queryExecution.executedPlan)
      val n = rec.span("exec:persist")(a.persist(StorageLevel.MEMORY_AND_DISK).count())
      assigned = a
      () => rec.output(id, "semantic_assign", Map("round" -> r, "rows" -> n))
    }

    rec.op(r, "semantic_dedup", "semantic_dedup") { id =>
      val rows = Main.collect(rec, "Similarity.semanticDupes")(
        Similarity.semanticDupes(assigned, eps = 0.33, clusterHint = 16))
      rowsOut(rec, id, "semantic_dedup", r,
        Seq("dup_id", "cluster", "kept_id", "max_cosine"), rows)
    }

    rec.op(r, "knn_graph", "knn_graph") { id =>
      val rows = Main.collect(rec, "Similarity.knnGraph")(
        Similarity.knnGraph(assigned, k = 5, clusterHint = 16))
      rowsOut(rec, id, "knn_graph", r,
        Seq("vec_id", "rnk", "neighbor_id", "cosine"), rows)
    }
    if (assigned != null) assigned.unpersist(true)

    rec.op(r, "tokenize_pack", "tokenize_pack") { id =>
      val rows = Main.collect(rec, "Packing.packSummary")(
        Packing.packSummary(Packing.packPlacement(docs, col("doc_id"),
          TextFunctions.tokenCount(col("text")), seqLen = 512)))
      rowsOut(rec, id, "tokenize_pack", r,
        Seq("pack_id", "n_docs", "first_doc", "last_doc", "has_boundary"), rows)
    }

    rec.op(r, "pack_write", "pack_write") { id =>
      val packs = s"$out/packs"
      rec.span("exec:Packing.writePacks")(Packing.writePacks(docs, col("doc_id"),
        split(col("text"), " "), seqLen = 512, packs))
      // the registry's pack_write_roundtrip read-back, reduced to scalars
      val rows = Main.collect(rec, "readback")(spark.read.parquet(packs)
        .select(col("pack_id"), col("n_tokens"),
          size(col("boundary_pos")).cast("long").as("n_bounds"),
          array_join(col("boundary_pos"), ",").as("bound_csv"),
          md5(concat_ws(" ", col("tokens"))).as("tok_md5")))
      rowsOut(rec, id, "pack_write", r,
        Seq("pack_id", "n_tokens", "n_bounds", "bound_csv", "tok_md5"), rows)
    }
  }
}
