package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.index.{AnnIndex, AnnIndexManager}
import QuerySupport._

/** Index-backed search surface (reference operators S1-S4, S8-S9, S12 and
  * the §2.10 maintenance hooks), exercised through the driver's DuckDB
  * oracle: exact configurations (FLAT, or IVF probed exhaustively) must
  * hash-match the brute-force SQL; approximate configurations are
  * rows-only here and recall-tested in ScalaTest.
  */
object IndexQueries {

  private val K = 10

  private def emb(s: SparkSession, dir: String) = table(s, dir, "embeddings")

  private def flatIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_flat", dir, path =>
      AnnIndexManager.create(s, "emb_flat", emb(s, dir), "vec_id", "embedding",
        "FLAT", Map("metric" -> "l2", "table" -> "embeddings",
          "table_path" -> s"$dir/embeddings.parquet"), path))

  private def sq8Index(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_sq8", dir, path =>
      AnnIndexManager.create(s, "emb_sq8", emb(s, dir), "vec_id", "embedding",
        "FLAT", Map("metric" -> "l2", "quantization" -> "sq8",
          "table" -> "embeddings"), path))

  private def ivfIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_ivf8", dir, path =>
      AnnIndexManager.create(s, "emb_ivf8", emb(s, dir), "vec_id", "embedding",
        "IVF", Map("metric" -> "l2", "nlist" -> "8", "nprobe" -> "8",
          "table" -> "embeddings"), path))

  private def ivfFullIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_ivf8_full", dir, path =>
      AnnIndexManager.create(s, "emb_ivf8_full", emb(s, dir), "vec_id", "embedding",
        "IVF", Map("metric" -> "l2", "nlist" -> "8", "nprobe" -> "8",
          "train_mode" -> "full", "table" -> "embeddings"), path))

  private def matryoshkaIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_mrl16", dir, path =>
      graft.operators.Matryoshka.createPrefixIndex(s, "emb_mrl16",
        emb(s, dir), "vec_id", "embedding", dPrefix = 16, "FLAT",
        Map("metric" -> "l2", "table" -> "embeddings"), path))

  private def fp16Index(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_fp16", dir, path =>
      AnnIndexManager.create(s, "emb_fp16", emb(s, dir), "vec_id", "embedding",
        "FLAT", Map("metric" -> "l2", "quantization" -> "fp16",
          "table" -> "embeddings"), path))

  private def sq8VamanaIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_vamana_sq8", dir, path =>
      AnnIndexManager.create(s, "emb_vamana_sq8", emb(s, dir), "vec_id", "embedding",
        "DISKANN", Map("metric" -> "l2", "max_degree" -> "64",
          "build_complexity" -> "128", "quantization" -> "sq8",
          "table" -> "embeddings"), path))

  private def bqIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_bq", dir, path =>
      AnnIndexManager.create(s, "emb_bq", emb(s, dir), "vec_id", "embedding",
        "FLAT", Map("metric" -> "cosine", "quantization" -> "bq",
          "table" -> "embeddings"), path))

  private def rabitqIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_rabitq", dir, path =>
      AnnIndexManager.create(s, "emb_rabitq", emb(s, dir), "vec_id", "embedding",
        "FLAT", Map("metric" -> "l2", "quantization" -> "rabitq",
          "table" -> "embeddings"), path))

  private def pqIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_pq", dir, path =>
      AnnIndexManager.create(s, "emb_pq", emb(s, dir), "vec_id", "embedding",
        "FLAT", Map("metric" -> "l2", "quantization" -> "pq", "pq_m" -> "16",
          "table" -> "embeddings"), path))

  private def ivfPqIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_ivfpq", dir, path =>
      AnnIndexManager.create(s, "emb_ivfpq", emb(s, dir), "vec_id", "embedding",
        "IVF", Map("metric" -> "l2", "quantization" -> "pq", "pq_m" -> "16",
          "nlist" -> "8", "nprobe" -> "8", "table" -> "embeddings"), path))

  private def adaptiveIvfIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_ivf_adapt", dir, path =>
      AnnIndexManager.create(s, "emb_ivf_adapt", emb(s, dir), "vec_id", "embedding",
        "IVF", Map("metric" -> "l2", "nlist" -> "8", "nprobe" -> "1",
          "adaptive_nprobe" -> "true", "nprobe_ratio" -> "4.0",
          "table" -> "embeddings"), path))

  /** Adaptive probing with a ratio so wide the distance-ratio prune keeps
    * EVERY cell: the adaptive routing code runs end-to-end, the scan is
    * exhaustive-exact, so a brute-force oracle pins it strictly (same
    * lossless-fixture technique as `neardup_ann_exact`). */
  private def adaptiveExactIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_ivf_adapt_exact", dir, path =>
      AnnIndexManager.create(s, "emb_ivf_adapt_exact", emb(s, dir), "vec_id", "embedding",
        "IVF", Map("metric" -> "l2", "nlist" -> "8", "nprobe" -> "1",
          "adaptive_nprobe" -> "true", "nprobe_ratio" -> "1.0E12",
          "table" -> "embeddings"), path))

  /** DISKANN lifecycle: create on most rows, two delta-shard inserts, a
    * delete, then compactShards merges the small deltas (build-once). */
  private def compactedIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_vamana_compact", dir, path => {
      val all = emb(s, dir)
      val idx = AnnIndexManager.create(s, "emb_vamana_compact",
        all.filter(col("vec_id") >= 20), "vec_id", "embedding",
        "DISKANN", Map("metric" -> "l2", "max_degree" -> "64",
          "build_complexity" -> "128"), path)
      idx.insert(all.filter(col("vec_id") < 10), "vec_id", "embedding")
      idx.insert(all.filter(col("vec_id") >= 10 && col("vec_id") < 20),
        "vec_id", "embedding")
      idx.delete(Seq(0L, 1L, 2L, 3L, 4L))
      idx.compactShards(minRows = 50) // merges the two 10-row delta shards
      idx
    })

  /** DISKANN mutated through the ONLINE insert path (copy-on-write shard
    * rewrite, `spark.ann.onlineInsertMaxRows`): two micro-batch inserts, a
    * delete, and a delete+re-insert of the same id — the CDC update
    * encoding — all WITHOUT opening delta shards (the require below proves
    * the online path engaged). Exhaustive-beam search is exact, so the
    * brute-force oracle strictly pins graph extension, per-label epoch
    * masking, and the epoch-win of the re-inserted row. */
  private def onlineIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_vamana_online", dir, path => {
      val all = emb(s, dir)
      val idx = AnnIndexManager.create(s, "emb_vamana_online",
        all.filter(col("vec_id") >= 20), "vec_id", "embedding",
        "DISKANN", Map("metric" -> "l2", "max_degree" -> "64",
          "build_complexity" -> "128"), path)
      val shardsAtCreate = idx.meta.param("shards", 0)
      val prev = s.conf.getOption("spark.ann.onlineInsertMaxRows")
      s.conf.set("spark.ann.onlineInsertMaxRows", "1000")
      try {
        idx.insert(all.filter(col("vec_id") < 10), "vec_id", "embedding")
        idx.insert(all.filter(col("vec_id") >= 10 && col("vec_id") < 20),
          "vec_id", "embedding")
        idx.delete(Seq(0L, 1L, 2L))
        idx.insert(all.filter(col("vec_id") === 2), "vec_id", "embedding")
      } finally prev match {
        case Some(v) => s.conf.set("spark.ann.onlineInsertMaxRows", v)
        case None => s.conf.unset("spark.ann.onlineInsertMaxRows")
      }
      require(idx.meta.param("shards", 0) == shardsAtCreate,
        "online insert fixture fell back to delta shards — the query would " +
          "no longer exercise the online path")
      idx
    })

  /** Index mutated ENTIRELY through the SQL maintenance verbs (ann_create_
    * index → ann_insert with the online path → ann_delete), so the strict
    * row pins the whole SQL CALL surface, not just the Scala API it wraps.
    * Base = vec_id >= 20 written to a scratch parquet (ann_create_index
    * takes a table path), insert = vec_id < 20, delete = ids 0,1,2. */
  private def sqlMaintIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_sql_maint", dir, path => {
      graft.functions.AnnSql.register(s)
      val scratch = java.nio.file.Files
        .createTempDirectory("graft_sql_maint").toString
      val all = emb(s, dir)
      all.filter(col("vec_id") >= 20)
        .write.mode("overwrite").parquet(s"$scratch/base.parquet")
      all.filter(col("vec_id") < 20)
        .write.mode("overwrite").parquet(s"$scratch/extra.parquet")
      s.sql(
        s"""SELECT * FROM ann_create_index('emb_sql_maint',
           |  '$scratch/base.parquet', 'vec_id', 'embedding', 'DISKANN',
           |  'metric=l2,max_degree=64,build_complexity=128', '$path')""".stripMargin)
        .collect()
      val prev = s.conf.getOption("spark.ann.onlineInsertMaxRows")
      s.conf.set("spark.ann.onlineInsertMaxRows", "1000")
      try s.sql(s"SELECT * FROM ann_insert('emb_sql_maint', '$scratch/extra.parquet')")
        .collect()
      finally prev match {
        case Some(v) => s.conf.set("spark.ann.onlineInsertMaxRows", v)
        case None => s.conf.unset("spark.ann.onlineInsertMaxRows")
      }
      s.sql("SELECT * FROM ann_delete('emb_sql_maint', '0,1,2')").collect()
      AnnIndexManager.load(s, path)
    })

  /** IVF with a forced cell-rebalance pass (SPANN-style skew fix): a low
    * maxCellFactor makes mild imbalance split, exercising sub-centroid
    * training, row moves, and the radius re-derivation (build-once). */
  private def rebalancedIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_ivf_reb", dir, path => {
      val idx = AnnIndexManager.create(s, "emb_ivf_reb", emb(s, dir),
        "vec_id", "embedding", "IVF",
        Map("metric" -> "l2", "nlist" -> "4", "nprobe" -> "4"), path)
      idx.rebalanceCells(maxCellFactor = 1.2)
      idx
    })

  private def hnswIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_hnsw", dir, path =>
      AnnIndexManager.create(s, "emb_hnsw", emb(s, dir), "vec_id", "embedding",
        "HNSW", Map("metric" -> "l2", "hnsw_m" -> "32",
          "table" -> "embeddings"), path))

  private def diskannIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_vamana", dir, path =>
      AnnIndexManager.create(s, "emb_vamana", emb(s, dir), "vec_id", "embedding",
        "DISKANN", Map("metric" -> "l2", "max_degree" -> "64",
          "build_complexity" -> "128", "table" -> "embeddings"), path))

  /** Spatially-sharded DISKANN (`shard_assign=spatial`): rows land on
    * their nearest trained shard center instead of hash-by-id — the
    * layout the shard-routing tier (ShardSummaries +
    * `spark.ann.shardProbes`) exists for (build-once). */
  private def routedIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_vamana_routed", dir, path =>
      AnnIndexManager.create(s, "emb_vamana_routed", emb(s, dir),
        "vec_id", "embedding", "DISKANN",
        Map("metric" -> "l2", "max_degree" -> "64",
          "build_complexity" -> "128", "shards" -> "4",
          "shard_assign" -> "spatial"), path))

  /** Run `f` with `spark.ann.shardProbes` set, restoring the prior value. */
  private def withProbes[T](s: SparkSession, probes: Int)(f: => T): T = {
    val prev = s.conf.getOption("spark.ann.shardProbes")
    s.conf.set("spark.ann.shardProbes", probes.toString)
    try f finally prev match {
      case Some(v) => s.conf.set("spark.ann.shardProbes", v)
      case None => s.conf.unset("spark.ann.shardProbes")
    }
  }

  private def cosineIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_cos", dir, path =>
      AnnIndexManager.create(s, "emb_cos", emb(s, dir), "vec_id", "embedding",
        "FLAT", Map("metric" -> "cosine", "table" -> "embeddings",
          "table_path" -> s"$dir/embeddings.parquet"), path))

  private def ipIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_ip", dir, path =>
      AnnIndexManager.create(s, "emb_ip", emb(s, dir), "vec_id", "embedding",
        "FLAT", Map("metric" -> "ip", "table" -> "embeddings",
          "table_path" -> s"$dir/embeddings.parquet"), path))

  /** FLAT index with label=3 rows tombstoned (build-once, idempotent). */
  private def deletedIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_flat_del", dir, path => {
      val idx = AnnIndexManager.create(s, "emb_flat_del", emb(s, dir),
        "vec_id", "embedding", "FLAT", Map("metric" -> "l2"), path)
      idx.delete(emb(s, dir).filter(col("label") === 3).select("vec_id"))
      idx
    })

  /** Deleted + vacuumed (compaction rewrites the dataset without tombstones). */
  private def vacuumedIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_flat_vac", dir, path => {
      val idx = AnnIndexManager.create(s, "emb_flat_vac", emb(s, dir),
        "vec_id", "embedding", "FLAT", Map("metric" -> "l2"), path)
      idx.delete(emb(s, dir).filter(col("label") === 3).select("vec_id"))
      idx.vacuum()
      idx
    })

  /** §2.10 MergeIndexes fixture (build-once): destination = the even-id
    * half, source = the odd-id half with its label=3 rows tombstoned.
    * [[AnnIndex.mergeFrom]] must pull exactly the source's LIVE vectors,
    * so an exact scan of the merged index strictly oracles against
    * even ∪ (odd ∧ label<>3); losing a live row or resurrecting a dead
    * one breaks the hash. The dequantizing-source path stays
    * spec-covered (IndexSpec). */
  private def mergedIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_merged", dir, path => {
      val all = emb(s, dir)
      val dst = AnnIndexManager.create(s, "emb_merged",
        all.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        "FLAT", Map("metric" -> "l2"), path)
      val src = AnnIndexManager.create(s, "emb_merge_src",
        all.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        "FLAT", Map("metric" -> "l2"), s"${path}_src")
      src.delete(all.filter(col("label") === 3 && col("vec_id") % 2 === 1)
        .select("vec_id"))
      dst.mergeFrom(src)
      dst
    })

  /** Embeddings with every value snapped to a 1/denom grid — the lossless
    * fixture for quantized-codec oracles: the snapped values are exactly
    * representable in the codec (fp16 at denom=8) or exactly recoverable
    * by codebook training (per-dim PQ at denom=4: ≤5 distinct values per
    * subspace, each its own trained centroid), so quantized candidate
    * order PROVABLY equals float order and the entry oracles strictly. */
  private def snappedEmb(s: SparkSession, dir: String, denom: Int) =
    emb(s, dir).select(col("vec_id"),
      expr(s"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * $denom) / $denom AS FLOAT))")
        .as("embedding"))

  private def pqExactIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_pq_exact", dir, path =>
      AnnIndexManager.create(s, "emb_pq_exact", snappedEmb(s, dir, 4),
        "vec_id", "embedding", "FLAT",
        Map("metric" -> "l2", "quantization" -> "pq", "pq_m" -> "64",
          "pq_ksub" -> "16"), path))

  private def fp16ExactIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_fp16_exact", dir, path =>
      AnnIndexManager.create(s, "emb_fp16_exact", snappedEmb(s, dir, 8),
        "vec_id", "embedding", "FLAT",
        Map("metric" -> "l2", "quantization" -> "fp16"), path))

  /** The SQ8 lossless fixture: embeddings frac-snapped to the k/255 grid,
    * with an all-zeros and an all-ones row appended so EVERY dimension's
    * observed (min, max) is exactly (0, 1). fitSq8 then learns min=0f,
    * scale=1f per dimension, u8 codes round-trip the snapped floats
    * bitwise, and quantized candidate order PROVABLY equals float order —
    * the sq8 analogue of the pq/fp16 fixtures above. */
  private def sq8ExactEmb(s: SparkSession, dir: String) = {
    val snapped = emb(s, dir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(round((CAST(x AS DOUBLE) - " +
        "floor(CAST(x AS DOUBLE))) * 255) / 255 AS FLOAT))").as("embedding"))
    val dim = emb(s, dir).select(size(col("embedding"))).head().getInt(0)
    // range ids 0 and 1 double as the constant vector values: all-0s, all-1s
    val extremes = s.range(2).select(
      (col("id") + 1000001L).as("vec_id"),
      expr(s"transform(sequence(1, $dim), i -> CAST(id AS FLOAT))").as("embedding"))
    snapped.union(extremes)
  }

  private def sq8ExactIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_sq8_exact", dir, path =>
      AnnIndexManager.create(s, "emb_sq8_exact", sq8ExactEmb(s, dir),
        "vec_id", "embedding", "FLAT",
        Map("metric" -> "l2", "quantization" -> "sq8"), path))

  private def vamanaSq8ExactIndex(s: SparkSession, dir: String): AnnIndex =
    AnnIndexManager.getOrBuild(s, "emb_vam_sq8_exact", dir, path =>
      AnnIndexManager.create(s, "emb_vam_sq8_exact", sq8ExactEmb(s, dir),
        "vec_id", "embedding", "DISKANN",
        Map("metric" -> "l2", "max_degree" -> "32", "build_complexity" -> "64",
          "quantization" -> "sq8"), path))

  /** (id, _distance) scan → (rank, vec_id) for oracle compare. */
  private def ranked(scan: DataFrame): DataFrame =
    scan
      .withColumn("rank",
        row_number().over(Window.orderBy(col("_distance"), col("id"))).cast("long"))
      .select(col("rank"), col("id").as("vec_id"))
      .orderBy("rank")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_flat_topk" -> ((s: SparkSession, dir: String) =>
      ranked(flatIndex(s, dir).scan(qvecF(5), K))),

    // IVF probed exhaustively (nprobe = nlist) exercises train/assign/prune/
    // merge machinery while staying exact → strict oracle.
    "ann_ivf_topk" -> ((s: SparkSession, dir: String) =>
      ranked(ivfIndex(s, dir).scan(qvecF(6), K, searchParam = 8))),

    // Matryoshka prefix serving (Kusupati et al. 2022): first stage scans
    // the 16-of-64-dim prefix index, exact full-dim rerank at exhaustive
    // overfetch (k*50 >= corpus) → lossless → strict brute-force oracle
    "ann_matryoshka_rerank" -> ((s: SparkSession, dir: String) => {
      val res = graft.operators.Matryoshka.searchRerank(
        matryoshkaIndex(s, dir), emb(s, dir), "vec_id", "embedding",
        qvecF(21), K, overfetch = 50)
      res.withColumn("rank", row_number().over(
          Window.orderBy(col("_distance"), col("vec_id"))).cast("long"))
        .select("rank", "vec_id")
        .orderBy("rank")
    }),

    // the batch table form at exhaustive overfetch: per-query exact
    "ann_matryoshka_table" -> ((s: SparkSession, dir: String) => {
      val queries = emb(s, dir).filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_vec_id"), col("embedding"))
      val res = graft.operators.Matryoshka.searchRerankTable(
        matryoshkaIndex(s, dir), queries, emb(s, dir), "vec_id", "embedding",
        k = 5, overfetch = 100, queryIdCol = "q_vec_id",
        queryVecCol = "embedding")
      res.withColumn("rank", row_number().over(
          Window.partitionBy("q_vec_id")
            .orderBy(col("_distance"), col("vec_id"))).cast("long"))
        .select("q_vec_id", "rank", "vec_id")
        .orderBy("q_vec_id", "rank")
    }),

    // hard-negative mining (DPR/ANCE): queries are corpus vectors, the
    // labeled positive is the vector itself — so the negatives are exactly
    // the k nearest OTHER docs, and the brute-force window replays the
    // whole fetch→drop→cut chain. FLAT index: the candidate cut is exact.
    "mine_negatives" -> ((s: SparkSession, dir: String) => {
      val pairs = emb(s, dir).filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("vec_id").as("pos_id"))
      graft.pipeline.NegativeMining.mineHardNegatives(
          flatIndex(s, dir), pairs, "qid", "qvec", "pos_id",
          emb(s, dir), "vec_id", "embedding", k = 5, overfetch = 3)
        .orderBy("qid", "rank")
    }),

    // RocketQA denoised variant: the labeled positive is each query's
    // 8th-nearest OTHER doc (deterministic, computed with the same exact
    // index), so margin 1.0 demonstrably drops the 7 closer candidates
    // (likely unlabeled positives) plus the query row itself — the full
    // denoise chain (candidate cut at k*overfetch+1, positive drop,
    // margin filter, re-rank) replayed in SQL
    "mine_negatives_denoised" -> ((s: SparkSession, dir: String) => {
      val qs = emb(s, dir).filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val nn = graft.operators.AnnSearch.searchTable(flatIndex(s, dir), qs,
        9, queryVecCol = Some("qvec"), queryIdCol = Some("qid"))
      val pos = nn.withColumn("r", row_number().over(
          Window.partitionBy("qid").orderBy(col("_distance"), col("id"))))
        .filter(col("r") === 9) // rank 1 is the query row itself (d = 0)
        .select(col("qid"), col("id").as("pos_id"))
      val pairs = qs.join(pos, Seq("qid"))
      graft.pipeline.NegativeMining.mineHardNegatives(
          flatIndex(s, dir), pairs, "qid", "qvec", "pos_id",
          emb(s, dir), "vec_id", "embedding", k = 5, overfetch = 3,
          denoiseMargin = 1.0)
        .orderBy("qid", "rank")
    }),

    // IVF trained by distributed FULL-DATA Lloyd (train_mode=full): probing
    // all cells keeps search exhaustive-exact, so the brute-force oracle
    // strictly pins the build+assign+search path over the full-trained
    // centroids
    "ann_ivf_full_topk" -> ((s: SparkSession, dir: String) =>
      ranked(ivfFullIndex(s, dir).scan(qvecF(6), K, searchParam = 8))),

    // adaptive probing (SPANN-style distance-ratio cell pruning): per-query
    // probe width — approximate, so rows-only; widening/floor/cap semantics
    // and boundary-query exactness are asserted in CompactionSpec.
    "ann_ivf_adaptive" -> ((s: SparkSession, dir: String) =>
      ranked(adaptiveIvfIndex(s, dir).scan(qvecF(6), K))),

    // adaptive probing at an all-cells-pass ratio: exhaustive-exact, so the
    // brute-force oracle strictly pins the adaptive routing arithmetic
    "ann_ivf_adaptive_exact" -> ((s: SparkSession, dir: String) =>
      ranked(adaptiveExactIndex(s, dir).scan(qvecF(6), K))),

    // shard compaction lifecycle: create + 2 delta inserts + delete +
    // compactShards, searched with an exhaustive beam → exact → strict
    // oracle proves compaction loses and resurrects nothing.
    "ann_compact_topk" -> ((s: SparkSession, dir: String) =>
      ranked(compactedIndex(s, dir).scan(qvecF(17), K, searchParam = 100000))),

    // ONLINE insert lifecycle (per-row live graph insert, the reference's
    // src/diskann_index.cpp:316-361): create + 2 online micro-batches +
    // delete + online re-insert, shard count pinned flat → exhaustive beam
    // → exact → strict oracle proves the rewrite loses and resurrects
    // nothing and the re-inserted id is live at its new epoch.
    "ann_online_topk" -> ((s: SparkSession, dir: String) =>
      ranked(onlineIndex(s, dir).scan(qvecF(13), K, searchParam = 100000))),

    // the whole §2.10 SQL verb surface in one lifecycle (create → online
    // insert → delete, all through SQL), scanned exhaustively via the SQL
    // TVF too → exact → strict oracle
    "sql_maintenance" -> ((s: SparkSession, dir: String) => {
      sqlMaintIndex(s, dir)
      // register in THIS session too: the builder above is skipped on a
      // warm index cache, and the TVFs are session-scoped
      graft.functions.AnnSql.register(s)
      val vecSql = qvec(14).mkString("array(", ", ", ")")
      s.sql(
        s"""SELECT CAST(row_number() OVER (ORDER BY _distance, id) AS BIGINT) AS rank,
           |  id AS vec_id
           |FROM ann_index_scan('emb_sql_maint', $vecSql, $K, 100000)
           |ORDER BY rank""".stripMargin)
    }),

    // S3: fetch base columns by the hit ids.
    "ann_search_fetch" -> ((s: SparkSession, dir: String) => {
      val res = flatIndex(s, dir).search(emb(s, dir), "vec_id", qvecF(7), K)
      res.withColumn("rank",
          row_number().over(Window.orderBy(col("_distance"), col("vec_id"))).cast("long"))
        .select("rank", "vec_id", "label")
        .orderBy("rank")
    }),

    // S4: batched multi-query search through probe pairs + map-side top-k.
    "ann_batch" -> ((s: SparkSession, dir: String) => {
      val res = ivfIndex(s, dir).searchBatch(Seq.tabulate(4)(i => qvecF(i)), K, searchParam = 8)
      res.withColumn("rank",
          row_number().over(
            Window.partitionBy("query_idx").orderBy(col("_distance"), col("id"))).cast("long"))
        .select(col("query_idx"), col("rank"), col("id").as("vec_id"))
        .orderBy("query_idx", "rank")
    }),

    "ann_delete_topk" -> ((s: SparkSession, dir: String) =>
      ranked(deletedIndex(s, dir).scan(qvecF(0), K))),

    "ann_vacuum_topk" -> ((s: SparkSession, dir: String) =>
      ranked(vacuumedIndex(s, dir).scan(qvecF(0), K))),

    // §2.10 MergeIndexes: even-half index absorbs the odd-half index's
    // live rows (source has deletions) — exact FLAT scan, strict oracle.
    "ann_merge_topk" -> ((s: SparkSession, dir: String) =>
      ranked(mergedIndex(s, dir).scan(qvecF(11), K))),

    // DISKANN graph search with an exhaustive beam (l >= n): the greedy
    // search visits every reachable node, so results are exact when the
    // graph is connected → strict oracle (verified locally at both SFs).
    "ann_vamana_topk" -> ((s: SparkSession, dir: String) =>
      ranked(diskannIndex(s, dir).scan(qvecF(9), K, searchParam = 100000))),

    // SHARD-ROUTED graph search (ShardSummaries + spark.ann.shardProbes)
    // on a spatially-sharded index, probe width >= the live set: every
    // query still goes THROUGH the router (per-query shard ranking,
    // inverted probe map, routed fan-out) but prunes nothing, and the
    // exhaustive beam keeps the scan exact → strict oracle pins the whole
    // routing plumbing. The narrowed sibling below measures what routing
    // trades.
    "ann_routed_exact" -> ((s: SparkSession, dir: String) =>
      withProbes(s, 1000000)(
        ranked(routedIndex(s, dir).scan(qvecF(15), K, searchParam = 100000)))),

    // the same index at probe width 2 of 4 — approximate by construction
    // (a pruned shard can hold a true neighbor), so rows-only; the recall
    // floor vs walk-all is pinned in ShardRoutingSpec and measured at the
    // 1M scale in SCALE.md
    "ann_routed_topk" -> ((s: SparkSession, dir: String) =>
      withProbes(s, 2)(
        ranked(routedIndex(s, dir).scan(qvecF(15), K, searchParam = 100000)))),

    // routed TABLE path: the two strict rows above pin the BROADCAST
    // path's router; this one forces the fully distributed table path
    // (collect bound lowered below the 6-row batch) with the row-local
    // routing UDF engaged at full width — per-query shard ranking happens
    // ON THE EXECUTORS inside the explode, prunes nothing, exhaustive
    // beam → exact → strict oracle pins the routed explode + cogroup legs.
    "ann_routed_table_exact" -> ((s: SparkSession, dir: String) => {
      val queries = emb(s, dir).filter(col("vec_id") < 6)
        .select(col("vec_id").as("q_vec_id"), col("embedding"))
      s.conf.set("spark.ann.maxCollectedQueries", "2")
      try withProbes(s, 1000000) {
        val res = graft.operators.AnnSearch.searchTable(
          routedIndex(s, dir), queries, k = 5, nprobe = 100000,
          queryIdCol = Some("q_vec_id"))
        res.withColumn("rank",
            row_number().over(
              Window.partitionBy("q_vec_id").orderBy(col("_distance"), col("id"))).cast("long"))
          .select(col("q_vec_id"), col("rank"), col("id").as("vec_id"))
          .orderBy("q_vec_id", "rank")
      } finally s.conf.unset("spark.ann.maxCollectedQueries")
    }),

    // width-2 sibling on the same distributed path — routing actually
    // prunes (approximate by construction) → rows-only
    "ann_routed_table_topk" -> ((s: SparkSession, dir: String) => {
      val queries = emb(s, dir).filter(col("vec_id") < 6)
        .select(col("vec_id").as("q_vec_id"), col("embedding"))
      s.conf.set("spark.ann.maxCollectedQueries", "2")
      try withProbes(s, 2) {
        val res = graft.operators.AnnSearch.searchTable(
          routedIndex(s, dir), queries, k = 5, nprobe = 100000,
          queryIdCol = Some("q_vec_id"))
        res.withColumn("rank",
            row_number().over(
              Window.partitionBy("q_vec_id").orderBy(col("_distance"), col("id"))).cast("long"))
          .select(col("q_vec_id"), col("rank"), col("id").as("vec_id"))
          .orderBy("q_vec_id", "rank")
      } finally s.conf.unset("spark.ann.maxCollectedQueries")
    }),

    // routed RECALL floor as a strict row (r16 verdict #4): until now the
    // routed paths' recall evidence lived only in SCALE arms and specs —
    // this pins routing QUALITY, not just plumbing, in CORRECTNESS. The
    // fixture is seeded and SF-INDEPENDENT (16 well-separated clusters,
    // 1024 rows — the geometry routing exists for), so per-query recall of
    // a width-4-of-16 routed search vs the same index's walk-all answers
    // is a deterministic value with fat margin over the thresholds; the
    // oracle hashes the thresholded row. Exhaustive beams on both sides:
    // the only approximation measured is the routing decision itself.
    "ann_routed_recall" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val dim = 16; val nc = 16; val per = 64; val k = 10
      def point(cluster: Int, salt: Long): Seq[Float] = {
        val rc = new scala.util.Random(cluster * 7919 + 3)
        val center = Array.fill(dim)(rc.nextFloat() * 100f)
        val rd = new scala.util.Random(salt)
        center.map(x => x + rd.nextFloat()).toSeq
      }
      val rows = Seq.tabulate(nc * per)(i =>
        (i.toLong, point(i % nc, i * 2654435761L + 11)))
      val idx = AnnIndexManager.getOrBuild(s, "emb_routed_recall_fx", dir,
        path => AnnIndexManager.create(s, "emb_routed_recall_fx",
          rows.toDF("id", "vec"), "id", "vec", "DISKANN",
          Map("metric" -> "l2", "max_degree" -> "16",
            "build_complexity" -> "64", "shards" -> "16",
            "shard_assign" -> "spatial"), path))
      val queries = Seq.tabulate(32)(qi =>
        point(qi % nc, qi * 104729L + 5).toArray)
      def topIds(df: org.apache.spark.sql.DataFrame): Map[Int, Set[Long]] =
        df.select("query_idx", "id").collect()
          .groupBy(_.getInt(0)).map { case (q, rs) =>
            q -> rs.map(_.getLong(1)).toSet }
      val truth = topIds(idx.searchBatch(queries, k, searchParam = 100000))
      val routed = withProbes(s, 4)(
        topIds(idx.searchBatch(queries, k, searchParam = 100000)))
      val recalls = queries.indices.map(q =>
        truth(q).intersect(routed(q)).size.toDouble / k)
      Seq((recalls.size.toLong, recalls.min >= 0.7,
          recalls.sum / recalls.size >= 0.9))
        .toDF("queries", "min_ok", "mean_ok")
    }),

    // routing ops surface: the spatial fixture reports usable coverage
    // through the SQL verb — strict (constant oracle; the fixture's mode
    // and full coverage are deterministic at every SF). One routed scan
    // first pins the router_* lifecycle columns: 4 shards is far below
    // the coarse floor, so the cached router is deterministically "flat"
    // with no coarse graph and no router.bin on disk.
    "sql_routing_info" -> ((s: SparkSession, dir: String) => {
      val idx = routedIndex(s, dir)
      withProbes(s, 2)(idx.scan(qvecF(5), 5).collect())
      graft.functions.AnnSql.register(s)
      s.sql("SELECT name, engine, shard_assign, covered, live_shards, " +
        "summarized_shards, probe_width, router_state, coarse_nodes, " +
        "coarse_live, coarse_floor, coarse_agreement, router_bin " +
        "FROM ann_routing_info('emb_vamana_routed')")
    }),

    // radius search (faiss range_search analogue): exact on FLAT, exact on
    // graph engines by construction (exhaustive codegen filter, no beam) —
    // both strict; radius 8.5 sits in a distance gap at every sf
    "ann_range" -> ((s: SparkSession, dir: String) =>
      ranked(flatIndex(s, dir).rangeScan(qvecF(5), 8.5))),

    "ann_range_vamana" -> ((s: SparkSession, dir: String) =>
      ranked(diskannIndex(s, dir).rangeScan(qvecF(5), 8.5))),

    // IVF default range = triangle-inequality cell prune on stored per-cell
    // radii — exact WITH pruning, hence a strict oracle (no searchParam)
    "ann_range_ivf" -> ((s: SparkSession, dir: String) =>
      ranked(ivfIndex(s, dir).rangeScan(qvecF(5), 8.5))),

    // batch range: a TABLE of queries, per-query triangle-inequality cell
    // prune against the broadcast centroid table — exact, strict per-query
    // oracle (AnnSearch.rangeTable)
    "ann_range_table" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val res = graft.operators.AnnSearch.rangeTable(
        ivfIndex(s, dir), Seq((0L, qvecF(5)), (1L, qvecF(6))).toDF("query_idx", "qvec"),
        8.5, queryVecCol = Some("qvec"), queryIdCol = Some("query_idx"))
      res.withColumn("rank", row_number().over(
          Window.partitionBy(col("query_idx"))
            .orderBy(col("_distance"), col("id"))).cast("long"))
        .select(col("query_idx"), col("rank"), col("id").as("vec_id"))
        .orderBy("query_idx", "rank")
    }),

    // S5: table-input search — queries from a relation (first 4 embeddings
    // querying themselves), input key passthrough, exact via FLAT.
    "ann_search_table" -> ((s: SparkSession, dir: String) => {
      val queries = emb(s, dir).filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_vec_id"), col("embedding"))
      val res = graft.operators.AnnSearch.searchTable(
        flatIndex(s, dir), queries, k = 5, queryIdCol = Some("q_vec_id"))
      res.withColumn("rank",
          row_number().over(
            Window.partitionBy("q_vec_id").orderBy(col("_distance"), col("id"))).cast("long"))
        .select(col("q_vec_id"), col("rank"), col("id").as("vec_id"))
        .orderBy("q_vec_id", "rank")
    }),

    // S5 against a graph engine: query batch collected, shard-local batch
    // kernel, exhaustive beam (l >= n) → exact → strict oracle.
    "ann_search_table_vamana" -> ((s: SparkSession, dir: String) => {
      val queries = emb(s, dir).filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_vec_id"), col("embedding"))
      val res = graft.operators.AnnSearch.searchTable(
        diskannIndex(s, dir), queries, k = 5, nprobe = 100000,
        queryIdCol = Some("q_vec_id"))
      res.withColumn("rank",
          row_number().over(
            Window.partitionBy("q_vec_id").orderBy(col("_distance"), col("id"))).cast("long"))
        .select(col("q_vec_id"), col("rank"), col("id").as("vec_id"))
        .orderBy("q_vec_id", "rank")
    }),

    // S5 at table scale: the query relation EXCEEDS the (lowered) collect
    // bound, so the auto strategy routes through the fully distributed
    // cogrouped path — no driver collect anywhere in the plan
    // (AnnIndex.scanGraphTable). Exhaustive beam → exact → strict oracle.
    "ann_search_table_dist" -> ((s: SparkSession, dir: String) => {
      val queries = emb(s, dir).filter(col("vec_id") < 6)
        .select(col("vec_id").as("q_vec_id"), col("embedding"))
      s.conf.set("spark.ann.maxCollectedQueries", "2")
      try {
        val res = graft.operators.AnnSearch.searchTable(
          diskannIndex(s, dir), queries, k = 5, nprobe = 100000,
          queryIdCol = Some("q_vec_id"))
        res.withColumn("rank",
            row_number().over(
              Window.partitionBy("q_vec_id").orderBy(col("_distance"), col("id"))).cast("long"))
          .select(col("q_vec_id"), col("rank"), col("id").as("vec_id"))
          .orderBy("q_vec_id", "rank")
      } finally s.conf.unset("spark.ann.maxCollectedQueries")
    }),

    // S5 repeat-call shape: index PINNED, strategy=distributed → the zip
    // path (GraphTableSearch.runZip — query relation hash-routed onto the
    // pinned shard layout, graph side read in place with no exchange).
    // Exhaustive beam → exact → strict oracle certifies the zip routing
    // delivers every (shard, query) pair exactly once.
    "ann_search_table_pinned" -> ((s: SparkSession, dir: String) => {
      val queries = emb(s, dir).filter(col("vec_id") >= 4 && col("vec_id") < 9)
        .select(col("vec_id").as("q_vec_id"), col("embedding"))
      // the index is SHARED (AnnIndexManager cache) — eagerly materialize
      // the tiny result (localCheckpoint) so the pin can be released in the
      // finally; otherwise the full index dataset would stay cached for the
      // rest of the harness run and silently flip every later emb_vamana
      // query onto the zip path (order-dependent plan shapes)
      val idx = diskannIndex(s, dir).persist()
      s.conf.set("spark.ann.graphTableStrategy", "distributed")
      try {
        val res = graft.operators.AnnSearch.searchTable(
          idx, queries, k = 5, nprobe = 100000,
          queryIdCol = Some("q_vec_id"))
        res.withColumn("rank",
            row_number().over(
              Window.partitionBy("q_vec_id").orderBy(col("_distance"), col("id"))).cast("long"))
          .select(col("q_vec_id"), col("rank"), col("id").as("vec_id"))
          .orderBy("q_vec_id", "rank")
          .localCheckpoint(true)
      } finally {
        s.conf.unset("spark.ann.graphTableStrategy")
        idx.unpersist()
      }
    }),

    // filtered search exercising the exact-fallback path on a COSINE index:
    // the predicate is selective enough that the overfetch can't fill k, so
    // the raw-vector cosine fallback produces the result → strict oracle.
    "ann_filtered_cosine" -> ((s: SparkSession, dir: String) => {
      val res = graft.operators.AnnSearch.searchFiltered(
        cosineIndex(s, dir), emb(s, dir), "vec_id", qvecF(3), K,
        predicate = col("label") === 5 && col("vec_id") % 7 === 0)
      res.withColumn("rank",
          row_number().over(Window.orderBy(col("_distance"), col("vec_id"))).cast("long"))
        .select("rank", "vec_id", "label")
        .orderBy("rank")
    }),

    // filtered search via overfetch-and-post-filter (capability upgrade over
    // the reference's filter bailout, SURVEY §2.2).
    "ann_filtered_topk" -> ((s: SparkSession, dir: String) => {
      val res = graft.operators.AnnSearch.searchFiltered(
        flatIndex(s, dir), emb(s, dir), "vec_id", qvecF(8), K,
        predicate = col("label") === 5)
      res.withColumn("rank",
          row_number().over(Window.orderBy(col("_distance"), col("vec_id"))).cast("long"))
        .select("rank", "vec_id", "label")
        .orderBy("rank")
    }),

    "ann_index_info" -> ((s: SparkSession, dir: String) => {
      flatIndex(s, dir); ivfIndex(s, dir) // ensure built + registered
      AnnIndexManager.info(s)
        .filter(col("name").isin("emb_flat", "emb_ivf8"))
        .select("name", "engine", "num_vectors", "num_deleted", "quantized")
        .orderBy("name")
    }),

    // HNSW engine (FAISS type='HNSW' capability): exhaustive ef → exact
    // (strict oracle); default ef rows-only, recall in HnswSpec.
    "ann_hnsw_topk" -> ((s: SparkSession, dir: String) =>
      ranked(hnswIndex(s, dir).scan(qvecF(10), K, searchParam = 100000))),

    // cosine metric through the index (normalize-at-build + IP ordering
    // equals cosine-similarity DESC ordering) → strict oracle.
    "ann_cosine_topk" -> ((s: SparkSession, dir: String) =>
      ranked(cosineIndex(s, dir).scan(qvecF(12), K))),

    // MMR diversity re-rank over index hits (Carbonell-Goldstein):
    // deterministic greedy selection over a k*4 candidate pool.
    // Rows-only (the relevance/redundancy mix is not SQL-mirrorable);
    // displacement and determinism contracts in DiversifySpec.
    "ann_mmr" -> ((s: SparkSession, dir: String) => {
      val hits = flatIndex(s, dir).scan(qvecF(22), K * 4)
      val withVecs = hits.join(
        emb(s, dir).select(col("vec_id").as("id"), col("embedding")), "id")
      graft.operators.Diversify.mmr(withVecs, "id", "embedding", "_distance",
          K, lambda = 0.7)
        .select(col("rank"), col("id").as("vec_id"))
        .orderBy("rank")
    }),

    // MMR at lambda=1: the redundancy term has zero weight, so the greedy
    // selection provably degenerates to ascending (distance, id) — pinning
    // the whole MMR plumbing (pool collection, relevance normalization,
    // tie-breaks, rank emission) against the brute-force oracle STRICTLY.
    // The diversity behavior itself stays approximate-by-nature (ann_mmr,
    // rows-only + DiversifySpec displacement contracts).
    "ann_mmr_lambda1" -> ((s: SparkSession, dir: String) => {
      val hits = flatIndex(s, dir).scan(qvecF(22), K * 4)
      val withVecs = hits.join(
        emb(s, dir).select(col("vec_id").as("id"), col("embedding")), "id")
      graft.operators.Diversify.mmr(withVecs, "id", "embedding", "_distance",
          K, lambda = 1.0)
        .select(col("rank"), col("id").as("vec_id"))
        .orderBy("rank")
    }),

    // grouped MMR at lambda=1 over a TABLE of queries: per-query pools
    // re-rank executor-side (Diversify.mmrTable shares mmrCore with the
    // scalar form), and with zero redundancy weight each query's selection
    // provably degenerates to ascending (distance, id) — a strict
    // per-query oracle for the whole grouped plumbing. General-lambda
    // equivalence with the scalar path is contracted in DiversifySpec.
    "ann_mmr_table_lambda1" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val hits = graft.operators.AnnSearch.searchTable(
        flatIndex(s, dir), Seq((0L, qvecF(22)), (1L, qvecF(23))).toDF("qid", "qvec"),
        K * 4, queryIdCol = Some("qid"))
      val withVecs = hits.join(
        emb(s, dir).select(col("vec_id").as("id"), col("embedding")), "id")
      graft.operators.Diversify.mmrTable(withVecs, "qid", "id", "embedding",
          "_distance", K, lambda = 1.0)
        .select(col("qid").as("query_idx"), col("rank"), col("id").as("vec_id"))
        .orderBy("query_idx", "rank")
    }),

    // exhaustive probing over a REBALANCED cell set stays exact — the
    // strict oracle pins that splitting cells moves rows without losing,
    // duplicating, or re-ranking any of them.
    "ann_rebalanced_topk" -> ((s: SparkSession, dir: String) =>
      ranked(rebalancedIndex(s, dir).scan(qvecF(21), K, searchParam = 100000))),

    // the flagship table-input operator composed with the refine step:
    // coarse-PQ candidates from a TABLE of queries, re-scored exactly from
    // the fetched base vectors at exhaustive oversample (k*64 >= corpus)
    // → strict per-query oracle.
    "ann_search_table_rerank" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val res = graft.operators.AnnSearch.searchTableFetch(
        pqIndex(s, dir), Seq((0, qvecF(19)), (1, qvecF(20))).toDF("query_idx", "qvec"),
        emb(s, dir), "vec_id", K, queryVecCol = Some("qvec"),
        queryIdCol = Some("query_idx"), oversample = 64, rerank = true)
      res.withColumn("rank", row_number().over(
          Window.partitionBy(col("query_idx"))
            .orderBy(col("_distance"), col("vec_id"))).cast("long"))
        .select(col("query_idx"), col("rank"), col("vec_id"))
        .orderBy("query_idx", "rank")
    }),

    // Recall@k harness (operator form of the reference's recall tests,
    // test/sql/diskann_streaming.test:29-55): exhaustive probing (nprobe =
    // nlist) must measure exactly 1.0 against the independently computed
    // brute-force ground truth — the oracle pins all four (hits, recall)
    // rows, so any drift in searchBatch, grouped top-k, or the distance
    // kernels breaks the match. Strict.
    "ann_recall_exact" -> ((s: SparkSession, dir: String) =>
      graft.operators.Recall.evaluate(ivfIndex(s, dir),
        Seq.tabulate(4)(i => qvecF(i)), K, searchParam = 8)),

    // Binary quantization (1 bit/dim sign codes, 32x smaller): candidates
    // ordered by XOR+popcount Hamming, an angular proxy. Rows-only (sign
    // ranking is approximate vs the float oracle); kernel exactness and
    // recall floors in BqSpec.
    // strict: 1 - cos(pi*h/dim) is strictly monotone in the hamming count
    // h in [0, dim], so the bq scan order IS the sign-disagreement order —
    // mirrored per-dimension in SQL exactly like vector_bq_hamming
    "ann_bq_topk" -> ((s: SparkSession, dir: String) =>
      ranked(bqIndex(s, dir).scan(qvecF(18), K))),

    // PQ on the lossless fixture: dsub=1 subspaces over 1/4-grid values —
    // ≤5 distinct values per subspace, ksub=16 centroids trained on the
    // full corpus recover each exactly → ADC distance == float distance →
    // strict oracle over the same snapped vectors in SQL
    "ann_pq_exact_topk" -> ((s: SparkSession, dir: String) =>
      ranked(pqExactIndex(s, dir).scan(qvecF(24), K))),

    // FP16 on the lossless fixture: 1/8-grid values in [-1, 1] are exactly
    // representable in half precision, so storage round-trips bit-exactly
    // and the quantized order equals the float order → strict oracle
    "ann_fp16_exact_topk" -> ((s: SparkSession, dir: String) =>
      ranked(fp16ExactIndex(s, dir).scan(qvecF(25), K))),

    // RaBitQ (SIGMOD'24) raw estimator ranking: rotated sign bits + (r, cf)
    // correction trailers, asymmetric float-query scoring — approximate by
    // construction (rows-only); estimator contracts, recall-vs-bq floor,
    // and L2-metric support are asserted in RabitqSpec.
    "ann_rabitq_topk" -> ((s: SparkSession, dir: String) =>
      ranked(rabitqIndex(s, dir).scan(qvecF(26), K))),

    // RaBitQ candidates + exact L2 re-rank at exhaustive oversample
    // (k*64 >= corpus): candidate generation is quantized, the final
    // ranking is lossless → strict oracle. NOTE this is an L2-metric
    // 1-bit index — the magnitude-restoring trailers make that legal,
    // where plain bq is cosine-only.
    "ann_rabitq_rerank" -> ((s: SparkSession, dir: String) => {
      val res = rabitqIndex(s, dir).search(emb(s, dir), "vec_id", qvecF(26), K,
        oversample = 64, rerank = true)
      res.withColumn("rank", row_number().over(
          Window.orderBy(col("_distance"), col("vec_id"))).cast("long"))
        .select("rank", "vec_id")
        .orderBy("rank")
    }),

    // BQ candidates + exact cosine re-rank at exhaustive oversample
    // (k*64 >= corpus): candidate generation is quantized, the final
    // ranking is lossless → strict oracle (the IndexRefineFlat pattern).
    "ann_bq_rerank" -> ((s: SparkSession, dir: String) => {
      val res = bqIndex(s, dir).search(emb(s, dir), "vec_id", qvecF(18), K,
        oversample = 64, rerank = true)
      res.withColumn("rank", row_number().over(
          Window.orderBy(col("_distance"), col("vec_id"))).cast("long"))
        .select("rank", "vec_id")
        .orderBy("rank")
    }),

    // IP metric: negated-dot ordering equals inner-product DESC.
    "ann_ip_topk" -> ((s: SparkSession, dir: String) =>
      ranked(ipIndex(s, dir).scan(qvecF(13), K))),

    // cross-table pipeline shape: ANN hits joined to the documents table
    // (doc_id aligned with vec_id in the testdata) with text stats.
    "ann_doc_join" -> ((s: SparkSession, dir: String) => {
      val hits = flatIndex(s, dir).scan(qvecF(14), K)
      val docs = table(s, dir, "documents")
      docs.join(broadcast(hits), docs("doc_id") === hits("id"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("_distance"), col("doc_id"))).cast("long"))
        .select(col("rank"), col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          col("lang"))
        .orderBy("rank")
    }),

    // SQL TVF surface: the reference's operators are SQL table functions;
    // this drives ann_index_scan through spark.sql end-to-end.
    "sql_index_scan" -> ((s: SparkSession, dir: String) => {
      flatIndex(s, dir)
      graft.functions.AnnSql.register(s)
      val vecSql = qvec(11).mkString("array(", ", ", ")")
      s.sql(
        s"""SELECT CAST(row_number() OVER (ORDER BY _distance, id) AS BIGINT) AS rank,
           |  id AS vec_id
           |FROM ann_index_scan('emb_flat', $vecSql, $K)
           |ORDER BY rank""".stripMargin)
    }),

    // S8 ann_list: catalog scan (name, engine, table_name).
    "ann_list" -> ((s: SparkSession, dir: String) => {
      flatIndex(s, dir); ivfIndex(s, dir)
      AnnIndexManager.list(s)
        .filter(col("name").isin("emb_flat", "emb_ivf8"))
        .orderBy("name")
    }),

    // S11 streaming build: binary vector file → DISKANN index dataset;
    // result row (num_vectors, dimension, sample_size = max(sqrt(N), 1000)).
    "streaming_build" -> ((s: SparkSession, dir: String) => {
      val vecs = emb(s, dir).select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      val tmp = java.nio.file.Files.createTempDirectory("graft_sb")
      val bin = s"$tmp/vectors.bin"
      graft.sources.BinaryVectorSource.write(bin, vecs.toSeq)
      graft.sources.BinaryVectorSource.diskannStreamingBuild(
        s, bin, s"$tmp/idx", Map("metric" -> "l2", "name" -> "sb_idx"))
    }),

    // M4 optimizer rewrite: ORDER BY l2_distance LIMIT k over the raw
    // parquet relation is rewritten by AnnTopKRule into an index-backed
    // scan (exact via FLAT) → strict oracle proves result equivalence.
    "ann_optimized_topk" -> ((s: SparkSession, dir: String) => {
      flatIndex(s, dir) // register the index for this table_path
      graft.plans.AnnOptimizer.enable(s)
      import graft.functions.AnnFunctions.l2_distance
      val df = s.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("_d", l2_distance(col("embedding"), typedLit(qvec(4))))
        .orderBy("_d")
        .limit(K)
      df.withColumn("rank",
          row_number().over(Window.orderBy(col("_d"), col("vec_id"))).cast("long"))
        .select("rank", "vec_id")
        .orderBy("rank")
    }),

    // M4 metric routing: ORDER BY inner_product DESC LIMIT k rewritten to
    // the registered ip index (reference routes 6 distance functions by
    // metric, src/ann_optimizer.cpp:237-258) → strict oracle.
    "ann_optimized_ip" -> ((s: SparkSession, dir: String) => {
      ipIndex(s, dir)
      graft.plans.AnnOptimizer.enable(s)
      import graft.functions.AnnFunctions.inner_product
      val df = s.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("_ip", inner_product(col("embedding"), typedLit(qvec(15))))
        .orderBy(col("_ip").desc)
        .limit(K)
      df.withColumn("rank",
          row_number().over(Window.orderBy(col("_ip").desc, col("vec_id"))).cast("long"))
        .select("rank", "vec_id")
        .orderBy("rank")
    }),

    // M4 metric routing: cosine_similarity DESC → cosine index.
    "ann_optimized_cosine" -> ((s: SparkSession, dir: String) => {
      cosineIndex(s, dir)
      graft.plans.AnnOptimizer.enable(s)
      import graft.functions.AnnFunctions.cosine_similarity
      val df = s.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("_cos", cosine_similarity(col("embedding"), typedLit(qvec(16))))
        .orderBy(col("_cos").desc)
        .limit(K)
      df.withColumn("rank",
          row_number().over(Window.orderBy(col("_cos").desc, col("vec_id"))).cast("long"))
        .select("rank", "vec_id")
        .orderBy("rank")
    }),

    // SQ8 quantized index: rows-only (quantization error can reorder
    // near-boundary ranks vs the float oracle); exactness on the F5-style
    // fixture is asserted in Sq8Spec.
    "ann_sq8_topk" -> ((s: SparkSession, dir: String) =>
      ranked(sq8Index(s, dir).scan(qvecF(5), K))),

    // SQ8 on the lossless fixture (min=0/scale=1 per dim, k/255 grid):
    // dequant-on-access reproduces DOUBLE k/255 exactly, so the quantized
    // scan order equals the float order → strict oracle. The oracle snaps
    // in double WITHOUT a float cast — that IS the dequantized value the
    // scan ranks by.
    "ann_sq8_exact_topk" -> ((s: SparkSession, dir: String) =>
      ranked(sq8ExactIndex(s, dir).scan(qvecF(26), K))),

    // the same lossless fixture through the DISKANN + sq8 path at
    // exhaustive beam: the graph codec dequantizes to FLOAT (bitwise the
    // original snapped values under min=0/scale=1), so exhaustive search
    // equals float brute force → strict. Oracle mirrors with a REAL cast.
    "ann_vamana_sq8_exact" -> ((s: SparkSession, dir: String) =>
      ranked(vamanaSq8ExactIndex(s, dir).scan(qvecF(27), K, searchParam = 100000))),

    // fp16 packed storage (2 bytes/dim): ~1e-3 relative rounding can
    // reorder near-ties vs the float oracle → rows-only; losslessness on
    // representable data and full DML survival are asserted in Fp16Spec.
    "ann_fp16_topk" -> ((s: SparkSession, dir: String) =>
      ranked(fp16Index(s, dir).scan(qvecF(5), K))),

    // Product quantization (Jégou et al., TPAMI 2011) — the compression
    // tier past SQ8: pq_m=16 on dim-64 stores 16 bytes/vector (16x vs
    // float32), searched via constant-query ADC lookup tables. Rows-only
    // (PQ is lossy by design); exactness on lossless geometry and LUT vs
    // decode-on-access parity are asserted in PqSpec.
    "ann_pq_topk" -> ((s: SparkSession, dir: String) =>
      ranked(pqIndex(s, dir).scan(qvecF(5), K))),

    // IVF + PQ composed (the faiss IVFPQ shape): coarse cells prune the
    // scan, PQ codes compress what remains — at 100 TB the difference
    // between an in-memory index tier and re-reading float vectors.
    "ann_ivfpq_topk" -> ((s: SparkSession, dir: String) =>
      ranked(ivfPqIndex(s, dir).scan(qvecF(6), K))),

    // PQ + exact re-rank (faiss IndexRefineFlat pattern): ADC picks
    // k*oversample candidates from the 16-byte codes, the fetched rows are
    // re-scored on raw floats. STRICT oracle: oversample 64 covers the
    // whole sf0.01 corpus, so the re-ranked result is provably the exact
    // top-k whatever the quantization error — the oracle exercises the
    // full PQ encode → ADC scan → fetch → refine pipeline.
    "ann_pq_rerank" -> ((s: SparkSession, dir: String) => {
      val res = pqIndex(s, dir).search(emb(s, dir), "vec_id", qvecF(8), K,
        oversample = 64, rerank = true)
      res.withColumn("rank", row_number().over(
          Window.orderBy(col("_distance"), col("vec_id"))).cast("long"))
        .select("rank", "vec_id")
        .orderBy("rank")
    }),

    // faiss index_factory composite: engine + nlist + PQ coding all come
    // from the single description string 'IVF8,PQ16' (reference
    // src/include/faiss_index.hpp:37-113). All-cell probing + oversampled
    // exact rerank → lossless final ranking → strict oracle.
    "ann_factory_ivfpq" -> ((s: SparkSession, dir: String) => {
      val idx = AnnIndexManager.getOrBuild(s, "emb_factory", dir, path =>
        AnnIndexManager.create(s, "emb_factory", emb(s, dir), "vec_id",
          "embedding", "FLAT" /* overridden by description */,
          Map("description" -> "IVF8,PQ16", "nprobe" -> "8",
            "table" -> "embeddings"), path))
      val res = idx.search(emb(s, dir), "vec_id", qvecF(23), K,
        oversample = 64, rerank = true)
      res.withColumn("rank", row_number().over(
          Window.orderBy(col("_distance"), col("vec_id"))).cast("long"))
        .select("rank", "vec_id")
        .orderBy("rank")
    }),

    // SQ8 on the graph engine (reference SQ8 appendix,
    // rust_lib/src/index_manager.rs:508-536): the shard dataset stores u8
    // codes, dequantized once per shard decode. Rows-only (quantization
    // error vs the float oracle); recall floor asserted in VamanaSpec.
    "ann_vamana_sq8" -> ((s: SparkSession, dir: String) =>
      ranked(sq8VamanaIndex(s, dir).scan(qvecF(5), K, searchParam = 100000))),

    // the SQL surface end-to-end with a TABLE() argument: same in-out
    // operator as ann_search_table, invoked purely through spark.sql —
    // strict (FLAT index = exact)
    "sql_search_table" -> ((s: SparkSession, dir: String) => {
      flatIndex(s, dir)
      graft.functions.AnnSql.register(s)
      import s.implicits._
      Seq((0, qvecF(14)), (1, qvecF(15))).toDF("query_idx", "qvec")
        .createOrReplaceTempView("sql_st_queries")
      val res = s.sql(
        "SELECT query_idx, id, _distance FROM ann_search_table(TABLE(sql_st_queries), 'emb_flat', 10)")
      res.withColumn("rank", row_number().over(
          Window.partitionBy(col("query_idx")).orderBy(col("_distance"), col("id"))).cast("long"))
        .select(col("query_idx"), col("rank"), col("id").as("vec_id"))
        .orderBy("query_idx", "rank")
    }),

    // S7 hybrid BM25+vector RRF fusion — strict oracle: the output is
    // RANKS only, and every float that decides an ordering (BM25 term
    // sums in sorted-term order, RRF weights) is mirrored operation-for-
    // operation in the DuckDB SQL.
    "hybrid_search" -> ((s: SparkSession, dir: String) => {
      val ti = graft.operators.HybridSearch.buildTextIndex(
        table(s, dir, "documents"), "doc_id", "text")
      graft.operators.HybridSearch.hybridSearch(
          table(s, dir, "documents"), "doc_id", ti, flatIndex(s, dir),
          queryText = "spark table join merge", queryVec = qvecF(1), k = K)
        .select(col("doc_id"), col("_bm25_rank").cast("long").as("_bm25_rank"),
          col("_vector_rank").cast("long").as("_vector_rank"))
        .orderBy(col("doc_id"))
    }),

    // S7 table-input batch form: N hybrid queries fused in ONE plan
    // (scalar per-query semantics bit-for-bit — HybridSpec asserts
    // equality against hybridSearch; oracle partitions every rank window
    // by query_idx)
    "hybrid_search_table" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val ti = graft.operators.HybridSearch.buildTextIndex(
        table(s, dir, "documents"), "doc_id", "text")
      val qs = Seq((0, "spark table join merge", qvecF(1)),
                   (1, "filter group hash", qvecF(2)),
                   (2, "vector window stream", qvecF(3)))
        .toDF("query_idx", "qtext", "qvec")
      graft.operators.HybridSearch.hybridSearchTable(
          table(s, dir, "documents"), "doc_id", ti, flatIndex(s, dir), qs,
          "query_idx", "qtext", "qvec", k = K)
        .select(col("query_idx"), col("doc_id"),
          col("_bm25_rank").cast("long").as("_bm25_rank"),
          col("_vector_rank").cast("long").as("_vector_rank"))
        .orderBy("query_idx", "doc_id")
    }),

    // §2.8 FTS-side incremental maintenance (TextIndexMaintenance): build
    // on the even-id half, append the odd half as a segment, tombstone 4
    // docs, update 2 (delete + re-append with rewritten text) — the
    // update's append crosses compactEvery=4, so the COMPACTED index
    // serves the final query. BM25 scores derive from the masked unioned
    // postings and recomputed stats, so ranks strictly oracle against a
    // monolithic BM25 over the equivalent final corpus.
    "fts_maintained" -> ((s: SparkSession, dir: String) => {
      val docs = table(s, dir, "documents")
      val m = new graft.streaming.TextIndexMaintenance(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        compactEvery = 4)
      m.append(docs.filter(col("doc_id") % 2 === 1), batchId = 1L)
      m.delete(Seq(0L, 2L, 4L, 6L))
      m.update(docs.filter(col("doc_id").isin(1L, 3L))
        .withColumn("text", concat(lit("spark merge rewritten "), col("text"))),
        batchId = 2L)
      val res = graft.operators.HybridSearch.bm25(
        m.current, Seq("spark", "table", "join", "merge"), K)
      // ranks only — no float survives to the compare; release the pins
      // before returning (lineage recomputes, correctness unaffected)
      val out = res.withColumn("rank", row_number().over(
          Window.orderBy(col("_bm25_score").desc, col("id"))).cast("long"))
        .select(col("rank"), col("id").as("doc_id"))
        .orderBy("rank")
      m.release()
      out
    })
  )

  /** Parameter-sweep DIAGNOSTICS, deliberately OUTSIDE [[queries]]: each is
    * an approximate configuration (partial probes / default beams) whose
    * exact result depends on the approximation, so no SQL oracle exists by
    * construction — as `queries` entries they read as unexplained
    * `no_oracle` misses in the driver's correctness file. Every one has a
    * strict exact-configuration sibling in [[queries]] (`ann_ivf_topk`,
    * `ann_vamana_topk`, `ann_hnsw_topk`, `ann_recall_exact`) pinning the
    * same machinery, and recall floors are asserted in IndexSpec /
    * VamanaSpec / HnswSpec / RecallSpec. Kept runnable (DiagnosticsSpec
    * executes each) as the tuning sweeps a user runs when sizing
    * nprobe/beam/ef. */
  def diagnostics: Map[String, (SparkSession, String) => DataFrame] = Map(
    // approximate IVF config (nprobe=2 of 8); recall asserted in IndexSpec
    "ann_ivf_probe" -> ((s: SparkSession, dir: String) =>
      ranked(ivfIndex(s, dir).scan(qvecF(6), K, searchParam = 2))),

    // default beam width (build_complexity=128): approximate; recall
    // asserted statistically in VamanaSpec per the reference contract
    "ann_vamana_probe" -> ((s: SparkSession, dir: String) =>
      ranked(diskannIndex(s, dir).scan(qvecF(9), K))),

    // default ef: approximate; recall floors in HnswSpec
    "ann_hnsw_probe" -> ((s: SparkSession, dir: String) =>
      ranked(hnswIndex(s, dir).scan(qvecF(10), K))),

    // the tuning shape users actually run: partial probes (nprobe=2 of 8)
    // scored against exact ground truth; floors asserted in RecallSpec
    "ann_recall_probe" -> ((s: SparkSession, dir: String) =>
      graft.operators.Recall.evaluate(ivfIndex(s, dir),
        Seq.tabulate(4)(i => qvecF(i)), K, searchParam = 2)),

    // expanding-beam graph range search (approximate, opt-in alternative
    // to the exact exhaustive default): recall floors vs the exact scan
    // asserted in VamanaSpec/HnswSpec via Recall.rangeRecall
    "ann_range_beam" -> ((s: SparkSession, dir: String) =>
      ranked(diskannIndex(s, dir).rangeScanBeam(qvecF(5), 8.5, eps = 0.3))),

    // staged MaxSim at PARTIAL overfetch (approximate by construction —
    // the pooled first stage can miss tail ranks); the strict sibling
    // maxsim_rerank pins the same pooling/rerank machinery relationally,
    // and MaxSimSpec asserts staged == brute force at full overfetch
    "maxsim_ann_probe" -> ((s: SparkSession, dir: String) => {
      val docs = VectorQueries.multiVecDocs(s, dir)
      val idx = AnnIndexManager.getOrBuild(s, "emb_maxsim_pool", dir, path =>
        AnnIndexManager.create(s, "emb_maxsim_pool",
          docs.select(col("doc_id"), graft.operators.MaxSim.meanPool(col("vecs"))
            .cast("array<float>").as("pv")),
          "doc_id", "pv", "FLAT", Map("metric" -> "ip"), path))
      import s.implicits._
      val qdf = Seq(
        (0, Seq(qvec(30).toSeq, qvec(40).toSeq)),
        (1, Seq(qvec(31).toSeq, qvec(41).toSeq)),
        (2, Seq(qvec(32).toSeq, qvec(42).toSeq))).toDF("query_idx", "qvecs")
      graft.operators.MaxSim.annSearchTable(idx, qdf, "query_idx", "qvecs",
          docs, "doc_id", "vecs", k = 10, overfetch = 20)
        .select("query_idx", "rank", "doc_id")
        .orderBy("query_idx", "rank")
    })
  )

  private def bruteForceTopK(qSeed: Int, extraCols: String = "",
                             where: String = ""): String =
    s"""SELECT rank, vec_id$extraCols FROM (
       |  SELECT vec_id${if (extraCols.nonEmpty) extraCols else ""},
       |    CAST(row_number() OVER (
       |      ORDER BY list_distance($EmbD, ${sqlVec(qSeed)}), vec_id) AS BIGINT) AS rank
       |  FROM embeddings $where) t
       |WHERE rank <= $K ORDER BY rank""".stripMargin

  /** All rows within sqrt(radiusSq) of the query, as (rank, vec_id) —
    * the boundary compares squared L2 in double on both engines, and the
    * chosen radii sit in distance gaps far wider than the power(sqrt(x),2)
    * vs direct-sum ulp. */
  private def bruteForceRange(qSeed: Int, radiusSq: Double): String =
    s"""SELECT rank, vec_id FROM (
       |  SELECT vec_id,
       |    CAST(row_number() OVER (
       |      ORDER BY list_distance($EmbD, ${sqlVec(qSeed)}), vec_id) AS BIGINT) AS rank,
       |    power(list_distance($EmbD, ${sqlVec(qSeed)}), 2) AS d
       |  FROM embeddings) t
       |WHERE d <= $radiusSq ORDER BY rank""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ann_flat_topk" -> bruteForceTopK(5),
    "ann_ivf_topk" -> bruteForceTopK(6),
    "ann_ivf_full_topk" -> bruteForceTopK(6),
    // routed-at-full-width = exact (the router ranks but prunes nothing,
    // beam exhaustive); ann_routed_topk (width 2) is approximate → no row
    "ann_routed_exact" -> bruteForceTopK(15),
    // same contract on the distributed TABLE path (routed explode);
    // ann_routed_table_topk (width 2) is approximate → no row
    "ann_routed_table_exact" ->
      s"""SELECT q_vec_id, rank, vec_id FROM (
         |  SELECT q.vec_id AS q_vec_id, e.vec_id, CAST(row_number() OVER (
         |    PARTITION BY q.vec_id
         |    ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
         |                           CAST(q.embedding AS DOUBLE[])), e.vec_id) AS BIGINT) AS rank
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 6) q
         |  CROSS JOIN embeddings e) t
         |WHERE rank <= 5 ORDER BY q_vec_id, rank""".stripMargin,
    // the fixture is seeded and SF-independent, so the thresholded recall
    // row is a constant (margins verified: min/mean sit far above the
    // 0.7/0.9 floors on the clustered geometry)
    "ann_routed_recall" ->
      """SELECT CAST(32 AS BIGINT) AS queries, true AS min_ok,
        |true AS mean_ok""".stripMargin,
    // counts are constants here because the fixture pins shards=4 and the
    // spatial build fills every budgeted shard on this data; probe_width=0
    // because the query runs outside withProbes (session default);
    // router_state='flat' because the pinning scan caches a router and 4
    // shards sits far below the coarse floor (no graph, no router.bin)
    "sql_routing_info" ->
      """SELECT 'emb_vamana_routed' AS name, 'DISKANN' AS engine,
        |'spatial' AS shard_assign, true AS covered, 4 AS live_shards,
        |4 AS summarized_shards, 0 AS probe_width, 'flat' AS router_state,
        |0 AS coarse_nodes, 0 AS coarse_live, 0 AS coarse_floor,
        |CAST(0.0 AS DOUBLE) AS coarse_agreement,
        |'absent' AS router_bin""".stripMargin,
    "ann_matryoshka_rerank" -> bruteForceTopK(21),

    // the fetch→drop→cut chain replayed: candidates = top-(k*overfetch+1)
    // per query by (exact distance, id), positive (= the query row) out,
    // top-5 of the rest
    "mine_negatives" ->
      s"""SELECT qid, rank, vec_id FROM (
         |  SELECT qid, vec_id, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY d, vec_id) AS BIGINT) AS rank
         |  FROM (
         |    SELECT q.vec_id AS qid, e.vec_id,
         |      list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS d,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), e.vec_id) AS crank
         |    FROM (SELECT * FROM embeddings WHERE vec_id < 4) q
         |    CROSS JOIN embeddings e) c
         |  WHERE crank <= 16 AND vec_id <> qid) t
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "mine_negatives_denoised" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 4),
         |c AS (SELECT q.qid, e.vec_id,
         |        list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS d,
         |        row_number() OVER (PARTITION BY q.qid
         |          ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])), e.vec_id) AS crank
         |      FROM q CROSS JOIN embeddings e),
         |pd AS (SELECT qid, d AS pdist, vec_id AS pos_id FROM c WHERE crank = 9)
         |SELECT qid, rank, vec_id FROM (
         |  SELECT c.qid, c.vec_id, CAST(row_number() OVER (
         |    PARTITION BY c.qid ORDER BY c.d, c.vec_id) AS BIGINT) AS rank
         |  FROM c JOIN pd ON pd.qid = c.qid
         |  WHERE c.crank <= 16 AND c.vec_id <> pd.pos_id AND c.d >= pd.pdist) t
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "ann_matryoshka_table" ->
      s"""SELECT q_vec_id, rank, vec_id FROM (
         |  SELECT q.vec_id AS q_vec_id, e.vec_id, CAST(row_number() OVER (
         |    PARTITION BY q.vec_id
         |    ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
         |                           CAST(q.embedding AS DOUBLE[])), e.vec_id) AS BIGINT) AS rank
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 4) q
         |  CROSS JOIN embeddings e) t
         |WHERE rank <= 5 ORDER BY q_vec_id, rank""".stripMargin,
    "ann_ivf_adaptive_exact" -> bruteForceTopK(6),
    "ann_range" -> bruteForceRange(5, 8.5),
    "ann_range_vamana" -> bruteForceRange(5, 8.5),

    // batch range = per-query brute-force radius filter
    "ann_range_table" ->
      s"""SELECT query_idx, rank, vec_id FROM (
         |  SELECT qv.query_idx, e.vec_id,
         |    CAST(row_number() OVER (PARTITION BY qv.query_idx
         |      ORDER BY list_distance($EmbD, qv.qvec), e.vec_id) AS BIGINT) AS rank,
         |    power(list_distance($EmbD, qv.qvec), 2) AS d
         |  FROM embeddings e CROSS JOIN (VALUES
         |    (CAST(0 AS BIGINT), ${sqlVec(5)}),
         |    (1, ${sqlVec(6)})) qv(query_idx, qvec)) t
         |WHERE d <= 8.5 ORDER BY query_idx, rank""".stripMargin,
    "ann_range_ivf" -> bruteForceRange(5, 8.5),
    "ann_search_fetch" -> bruteForceTopK(7, extraCols = ", label"),
    "ann_pq_rerank" -> bruteForceTopK(8),
    "ann_factory_ivfpq" -> bruteForceTopK(23),

    // bq scan order == hamming order (1 - cos(pi*h/d) strictly monotone in
    // h): rank by the per-dim sign-disagreement count, the same unrolled
    // terms the strict vector_bq_hamming oracle uses
    "ann_bq_topk" -> {
      val terms = QuerySupport.qvec(18).zipWithIndex.map { case (x, i) =>
        s"CASE WHEN (embedding[${i + 1}] > 0) != ${x > 0.0} THEN 1 ELSE 0 END"
      }
      s"""SELECT rank, vec_id FROM (
         |  SELECT vec_id, CAST(row_number() OVER (
         |    ORDER BY (${terms.mkString(" + ")}), vec_id) AS BIGINT) AS rank
         |  FROM embeddings) t
         |WHERE rank <= $K ORDER BY rank""".stripMargin
    },

    // the quantized-boundary fixtures: brute force over the SAME snapped
    // vectors (grid arithmetic in double on both sides)
    "ann_pq_exact_topk" ->
      s"""SELECT rank, vec_id FROM (
         |  SELECT vec_id, CAST(row_number() OVER (
         |    ORDER BY list_distance([round(x * 4) / 4 FOR x IN $EmbD],
         |                           ${sqlVec(24)}), vec_id) AS BIGINT) AS rank
         |  FROM embeddings) t
         |WHERE rank <= $K ORDER BY rank""".stripMargin,

    "ann_fp16_exact_topk" ->
      s"""SELECT rank, vec_id FROM (
         |  SELECT vec_id, CAST(row_number() OVER (
         |    ORDER BY list_distance([round(x * 8) / 8 FOR x IN $EmbD],
         |                           ${sqlVec(25)}), vec_id) AS BIGINT) AS rank
         |  FROM embeddings) t
         |WHERE rank <= $K ORDER BY rank""".stripMargin,

    // sq8 lossless fixture, FLAT dequant-on-access path: snap in DOUBLE
    // (double k/255 IS the dequantized value the scan ranks by); the
    // appended all-0/all-1 rows pin each dim's (min, scale) to (0, 1)
    "ann_sq8_exact_topk" ->
      s"""SELECT rank, vec_id FROM (
         |  SELECT vec_id, CAST(row_number() OVER (
         |    ORDER BY list_distance(v, ${sqlVec(26)}), vec_id) AS BIGINT) AS rank
         |  FROM (
         |    SELECT vec_id, [round((x - floor(x)) * 255) / 255 FOR x IN $EmbD] AS v
         |    FROM embeddings
         |    UNION ALL SELECT 1000001,
         |      (SELECT [CAST(0 AS DOUBLE) FOR x IN $EmbD] FROM embeddings LIMIT 1)
         |    UNION ALL SELECT 1000002,
         |      (SELECT [CAST(1 AS DOUBLE) FOR x IN $EmbD] FROM embeddings LIMIT 1))) t
         |WHERE rank <= $K ORDER BY rank""".stripMargin,

    // sq8 lossless fixture, DISKANN path: the graph codec dequantizes to
    // FLOAT storage — bitwise the original snapped floats — so the mirror
    // snaps through a REAL cast before the double distance
    "ann_vamana_sq8_exact" ->
      s"""SELECT rank, vec_id FROM (
         |  SELECT vec_id, CAST(row_number() OVER (
         |    ORDER BY list_distance(v, ${sqlVec(27)}), vec_id) AS BIGINT) AS rank
         |  FROM (
         |    SELECT vec_id,
         |      [CAST(CAST(round((x - floor(x)) * 255) / 255 AS REAL) AS DOUBLE)
         |       FOR x IN $EmbD] AS v
         |    FROM embeddings
         |    UNION ALL SELECT 1000001,
         |      (SELECT [CAST(0 AS DOUBLE) FOR x IN $EmbD] FROM embeddings LIMIT 1)
         |    UNION ALL SELECT 1000002,
         |      (SELECT [CAST(1 AS DOUBLE) FOR x IN $EmbD] FROM embeddings LIMIT 1))) t
         |WHERE rank <= $K ORDER BY rank""".stripMargin,
    "ann_vamana_topk" -> bruteForceTopK(9),
    "ann_hnsw_topk" -> bruteForceTopK(10),
    "ann_mmr_lambda1" -> bruteForceTopK(22),

    // grouped lambda=1 MMR = per-query brute-force rank order
    "ann_mmr_table_lambda1" ->
      s"""SELECT query_idx, rank, vec_id FROM (
         |  SELECT qv.query_idx, e.vec_id, CAST(row_number() OVER (
         |    PARTITION BY qv.query_idx
         |    ORDER BY list_distance($EmbD, qv.qvec), e.vec_id) AS BIGINT) AS rank
         |  FROM embeddings e CROSS JOIN (VALUES
         |    (CAST(0 AS BIGINT), ${sqlVec(22)}),
         |    (1, ${sqlVec(23)})) qv(query_idx, qvec)) t
         |WHERE rank <= $K ORDER BY query_idx, rank""".stripMargin,
    "sql_index_scan" -> bruteForceTopK(11),

    "ann_cosine_topk" ->
      s"""SELECT rank, vec_id FROM (
         |  SELECT vec_id, CAST(row_number() OVER (
         |    ORDER BY list_cosine_similarity($EmbD, ${sqlVec(12)}) DESC, vec_id) AS BIGINT) AS rank
         |  FROM embeddings) t
         |WHERE rank <= $K ORDER BY rank""".stripMargin,

    "ann_rebalanced_topk" -> bruteForceTopK(21),

    "ann_search_table_rerank" ->
      s"""SELECT query_idx, rank, vec_id FROM (
         |  SELECT q.query_idx, e.vec_id, CAST(row_number() OVER (
         |    PARTITION BY q.query_idx
         |    ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), q.qvec), e.vec_id) AS BIGINT) AS rank
         |  FROM (VALUES
         |    (CAST(0 AS INTEGER), ${sqlVec(19)}),
         |    (1, ${sqlVec(20)})) q(query_idx, qvec)
         |  CROSS JOIN embeddings e) t
         |WHERE rank <= $K ORDER BY query_idx, rank""".stripMargin,

    "ann_recall_exact" ->
      s"""SELECT CAST(i AS INTEGER) AS query_idx, CAST($K AS BIGINT) AS hits,
         | CAST($K AS BIGINT) AS k, CAST(1.0 AS DOUBLE) AS recall
         |FROM range(4) t(i) ORDER BY query_idx""".stripMargin,

    // exhaustive-oversample rerank on the L2 rabitq index = brute force
    "ann_rabitq_rerank" -> bruteForceTopK(26),

    "ann_bq_rerank" ->
      s"""SELECT rank, vec_id FROM (
         |  SELECT vec_id, CAST(row_number() OVER (
         |    ORDER BY list_cosine_similarity($EmbD, ${sqlVec(18)}) DESC, vec_id) AS BIGINT) AS rank
         |  FROM embeddings) t
         |WHERE rank <= $K ORDER BY rank""".stripMargin,

    "ann_ip_topk" ->
      s"""SELECT rank, vec_id FROM (
         |  SELECT vec_id, CAST(row_number() OVER (
         |    ORDER BY list_inner_product($EmbD, ${sqlVec(13)}) DESC, vec_id) AS BIGINT) AS rank
         |  FROM embeddings) t
         |WHERE rank <= $K ORDER BY rank""".stripMargin,

    "ann_doc_join" ->
      s"""SELECT rank, doc_id, n_chars, lang FROM (
         |  SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars, d.lang,
         |    CAST(row_number() OVER (
         |      ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), ${sqlVec(14)}), d.doc_id) AS BIGINT) AS rank
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id) t
         |WHERE rank <= $K ORDER BY rank""".stripMargin,
    "ann_optimized_topk" -> bruteForceTopK(4),

    "ann_optimized_ip" ->
      s"""SELECT rank, vec_id FROM (
         |  SELECT vec_id, CAST(row_number() OVER (
         |    ORDER BY list_inner_product($EmbD, ${sqlVec(15)}) DESC, vec_id) AS BIGINT) AS rank
         |  FROM embeddings) t
         |WHERE rank <= $K ORDER BY rank""".stripMargin,

    "ann_optimized_cosine" ->
      s"""SELECT rank, vec_id FROM (
         |  SELECT vec_id, CAST(row_number() OVER (
         |    ORDER BY list_cosine_similarity($EmbD, ${sqlVec(16)}) DESC, vec_id) AS BIGINT) AS rank
         |  FROM embeddings) t
         |WHERE rank <= $K ORDER BY rank""".stripMargin,

    "ann_list" ->
      """SELECT * FROM (
        |  SELECT 'emb_flat' AS name, 'FLAT' AS engine, 'embeddings' AS table_name
        |  UNION ALL
        |  SELECT 'emb_ivf8', 'IVF', 'embeddings') t
        |ORDER BY name""".stripMargin,

    "streaming_build" ->
      """SELECT CAST(count(*) AS BIGINT) AS num_vectors,
        | CAST(64 AS INTEGER) AS dimension,
        | CAST(1000 AS INTEGER) AS sample_size
        |FROM embeddings""".stripMargin,
    "ann_delete_topk" -> bruteForceTopK(0, where = "WHERE label <> 3"),
    "ann_vacuum_topk" -> bruteForceTopK(0, where = "WHERE label <> 3"),
    // compacted index = all rows except the 5 tombstoned ids
    "ann_compact_topk" -> bruteForceTopK(17, where = "WHERE vec_id >= 5"),
    // online-mutated index = all rows except ids 0,1 (2 was re-inserted)
    "ann_online_topk" -> bruteForceTopK(13, where = "WHERE vec_id >= 2"),
    // SQL-verb-mutated index = all rows except the 3 SQL-deleted ids
    "sql_maintenance" -> bruteForceTopK(14, where = "WHERE vec_id >= 3"),
    // merged index = even half ∪ live (label<>3) odd half
    "ann_merge_topk" ->
      bruteForceTopK(11, where = "WHERE (vec_id % 2 = 0) OR (label <> 3)"),

    "ann_search_table" ->
      s"""SELECT q_vec_id, rank, vec_id FROM (
         |  SELECT q.vec_id AS q_vec_id, e.vec_id, CAST(row_number() OVER (
         |    PARTITION BY q.vec_id
         |    ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
         |                           CAST(q.embedding AS DOUBLE[])), e.vec_id) AS BIGINT) AS rank
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 4) q
         |  CROSS JOIN embeddings e) t
         |WHERE rank <= 5 ORDER BY q_vec_id, rank""".stripMargin,

    "ann_search_table_vamana" ->
      s"""SELECT q_vec_id, rank, vec_id FROM (
         |  SELECT q.vec_id AS q_vec_id, e.vec_id, CAST(row_number() OVER (
         |    PARTITION BY q.vec_id
         |    ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
         |                           CAST(q.embedding AS DOUBLE[])), e.vec_id) AS BIGINT) AS rank
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 3) q
         |  CROSS JOIN embeddings e) t
         |WHERE rank <= 5 ORDER BY q_vec_id, rank""".stripMargin,

    "ann_search_table_dist" ->
      s"""SELECT q_vec_id, rank, vec_id FROM (
         |  SELECT q.vec_id AS q_vec_id, e.vec_id, CAST(row_number() OVER (
         |    PARTITION BY q.vec_id
         |    ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
         |                           CAST(q.embedding AS DOUBLE[])), e.vec_id) AS BIGINT) AS rank
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 6) q
         |  CROSS JOIN embeddings e) t
         |WHERE rank <= 5 ORDER BY q_vec_id, rank""".stripMargin,

    "ann_search_table_pinned" ->
      s"""SELECT q_vec_id, rank, vec_id FROM (
         |  SELECT q.vec_id AS q_vec_id, e.vec_id, CAST(row_number() OVER (
         |    PARTITION BY q.vec_id
         |    ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
         |                           CAST(q.embedding AS DOUBLE[])), e.vec_id) AS BIGINT) AS rank
         |  FROM (SELECT * FROM embeddings WHERE vec_id >= 4 AND vec_id < 9) q
         |  CROSS JOIN embeddings e) t
         |WHERE rank <= 5 ORDER BY q_vec_id, rank""".stripMargin,

    "ann_filtered_cosine" ->
      s"""SELECT rank, vec_id, label FROM (
         |  SELECT vec_id, label, CAST(row_number() OVER (
         |    ORDER BY list_cosine_similarity($EmbD, ${sqlVec(3)}) DESC, vec_id) AS BIGINT) AS rank
         |  FROM embeddings WHERE label = 5 AND vec_id % 7 = 0) t
         |WHERE rank <= $K ORDER BY rank""".stripMargin,

    "ann_filtered_topk" ->
      s"""SELECT rank, vec_id, label FROM (
         |  SELECT vec_id, label, CAST(row_number() OVER (
         |    ORDER BY list_distance($EmbD, ${sqlVec(8)}), vec_id) AS BIGINT) AS rank
         |  FROM embeddings WHERE label = 5) t
         |WHERE rank <= $K ORDER BY rank""".stripMargin,

    "ann_batch" ->
      s"""SELECT query_idx, rank, vec_id FROM (
         |  SELECT q.query_idx, e.vec_id, CAST(row_number() OVER (
         |    PARTITION BY q.query_idx
         |    ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), q.qvec), e.vec_id) AS BIGINT) AS rank
         |  FROM (VALUES
         |    (CAST(0 AS INTEGER), ${sqlVec(0)}),
         |    (1, ${sqlVec(1)}),
         |    (2, ${sqlVec(2)}),
         |    (3, ${sqlVec(3)})) q(query_idx, qvec)
         |  CROSS JOIN embeddings e) t
         |WHERE rank <= $K ORDER BY query_idx, rank""".stripMargin,

    "ann_index_info" ->
      """SELECT * FROM (
        |  SELECT 'emb_flat' AS name, 'FLAT' AS engine,
        |    (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS num_vectors,
        |    CAST(0 AS BIGINT) AS num_deleted, false AS quantized
        |  UNION ALL
        |  SELECT 'emb_ivf8', 'IVF',
        |    (SELECT CAST(count(*) AS BIGINT) FROM embeddings),
        |    CAST(0 AS BIGINT), false) t
        |ORDER BY name""".stripMargin,

    "sql_search_table" ->
      s"""SELECT query_idx, rank, vec_id FROM (
         |  SELECT q.query_idx, e.vec_id, CAST(row_number() OVER (
         |    PARTITION BY q.query_idx
         |    ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), q.qvec), e.vec_id) AS BIGINT) AS rank
         |  FROM (VALUES
         |    (CAST(0 AS INTEGER), ${sqlVec(14)}),
         |    (1, ${sqlVec(15)})) q(query_idx, qvec)
         |  CROSS JOIN embeddings e) t
         |WHERE rank <= $K ORDER BY query_idx, rank""".stripMargin,

    // S7 mirrored operation-for-operation against HybridSearch.scala:
    // same tokenizer regex, BM25 constants spelled as the same double OPS
    // Scala performs ((1.2 + 1.0), 0.25), per-doc term sums folded in
    // sorted term order (sum(... ORDER BY term) = Spark's
    // aggregate(sort_array(...))), RRF added bm25-term-first. Output is
    // ranks only — no float column survives to the compare.
    "hybrid_search" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS id,
         |    [t FOR t IN string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+') IF len(t) > 0] AS toks
         |  FROM documents
         |), postings AS (
         |  SELECT id, term, count(*) AS tf
         |  FROM (SELECT id, unnest(toks) AS term FROM toks)
         |  WHERE term IN ('spark', 'table', 'join', 'merge')
         |  GROUP BY id, term
         |), doclens AS (
         |  SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM toks
         |), stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM doclens
         |), idf AS (
         |  SELECT term, ln(((SELECT n FROM stats) - df + 0.5) / (df + 0.5) + 1.0) AS idf
         |  FROM (SELECT term, count(DISTINCT id) AS df FROM postings GROUP BY term)
         |), contribs AS (
         |  SELECT p.id, p.term,
         |    i.idf * (p.tf * (1.2 + 1.0))
         |      / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / (SELECT avgdl FROM stats))) AS contrib
         |  FROM postings p JOIN idf i USING (term) JOIN doclens d ON d.id = p.id
         |), bm25 AS (
         |  SELECT id, row_number() OVER (ORDER BY score DESC, id) AS bm25_rank
         |  FROM (SELECT id, sum(contrib ORDER BY term) AS score FROM contribs GROUP BY id)
         |  QUALIFY bm25_rank <= 100
         |), vec AS (
         |  SELECT vec_id AS id, row_number() OVER (
         |    ORDER BY list_distance($EmbD, ${sqlVec(1)}), vec_id) AS vector_rank
         |  FROM embeddings QUALIFY vector_rank <= 100
         |), fused AS (
         |  SELECT coalesce(b.id, v.id) AS id,
         |    (CASE WHEN b.bm25_rank IS NOT NULL THEN 0.3 / (60 + b.bm25_rank) ELSE 0.0 END)
         |      + (CASE WHEN v.vector_rank IS NOT NULL THEN 0.7 / (60 + v.vector_rank) ELSE 0.0 END) AS rrf,
         |    coalesce(b.bm25_rank, 0) AS bm25_rank,
         |    coalesce(v.vector_rank, 0) AS vector_rank
         |  FROM bm25 b FULL OUTER JOIN vec v ON b.id = v.id
         |  ORDER BY rrf DESC, id LIMIT $K
         |)
         |SELECT d.doc_id, CAST(f.bm25_rank AS BIGINT) AS _bm25_rank,
         |  CAST(f.vector_rank AS BIGINT) AS _vector_rank
         |FROM fused f JOIN documents d ON d.doc_id = f.id
         |ORDER BY doc_id""".stripMargin,

    // S7 batch form: the scalar oracle above with every rank window
    // PARTITION BY query_idx and the query terms/vectors riding in as
    // VALUES relations
    "hybrid_search_table" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS id,
         |    [t FOR t IN string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+') IF len(t) > 0] AS toks
         |  FROM documents
         |), qterms(query_idx, term) AS (
         |  VALUES (CAST(0 AS INTEGER), 'spark'), (0, 'table'), (0, 'join'), (0, 'merge'),
         |         (1, 'filter'), (1, 'group'), (1, 'hash'),
         |         (2, 'vector'), (2, 'window'), (2, 'stream')
         |), qvecs(query_idx, qvec) AS (
         |  VALUES (CAST(0 AS INTEGER), ${sqlVec(1)}), (1, ${sqlVec(2)}), (2, ${sqlVec(3)})
         |), postings AS (
         |  SELECT id, term, count(*) AS tf
         |  FROM (SELECT id, unnest(toks) AS term FROM toks)
         |  WHERE term IN (SELECT term FROM qterms)
         |  GROUP BY id, term
         |), doclens AS (
         |  SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM toks
         |), stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM doclens
         |), idf AS (
         |  SELECT term, ln(((SELECT n FROM stats) - df + 0.5) / (df + 0.5) + 1.0) AS idf
         |  FROM (SELECT term, count(DISTINCT id) AS df FROM postings GROUP BY term)
         |), contribs AS (
         |  SELECT q.query_idx, p.id, p.term,
         |    i.idf * (p.tf * (1.2 + 1.0))
         |      / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / (SELECT avgdl FROM stats))) AS contrib
         |  FROM qterms q JOIN postings p USING (term) JOIN idf i USING (term)
         |    JOIN doclens d ON d.id = p.id
         |), bm25 AS (
         |  SELECT query_idx, id, row_number() OVER (
         |    PARTITION BY query_idx ORDER BY score DESC, id) AS bm25_rank
         |  FROM (SELECT query_idx, id, sum(contrib ORDER BY term) AS score
         |        FROM contribs GROUP BY query_idx, id)
         |  QUALIFY bm25_rank <= 100
         |), vec AS (
         |  SELECT q.query_idx, vec_id AS id, row_number() OVER (
         |    PARTITION BY q.query_idx
         |    ORDER BY list_distance($EmbD, q.qvec), vec_id) AS vector_rank
         |  FROM embeddings CROSS JOIN qvecs q QUALIFY vector_rank <= 100
         |), fused0 AS (
         |  SELECT coalesce(b.query_idx, v.query_idx) AS query_idx,
         |    coalesce(b.id, v.id) AS id,
         |    (CASE WHEN b.bm25_rank IS NOT NULL THEN 0.3 / (60 + b.bm25_rank) ELSE 0.0 END)
         |      + (CASE WHEN v.vector_rank IS NOT NULL THEN 0.7 / (60 + v.vector_rank) ELSE 0.0 END) AS rrf,
         |    coalesce(b.bm25_rank, 0) AS bm25_rank,
         |    coalesce(v.vector_rank, 0) AS vector_rank
         |  FROM bm25 b FULL OUTER JOIN vec v ON b.query_idx = v.query_idx AND b.id = v.id
         |), fused AS (
         |  SELECT * FROM fused0
         |  QUALIFY row_number() OVER (PARTITION BY query_idx ORDER BY rrf DESC, id) <= $K
         |)
         |SELECT f.query_idx, d.doc_id, CAST(f.bm25_rank AS BIGINT) AS _bm25_rank,
         |  CAST(f.vector_rank AS BIGINT) AS _vector_rank
         |FROM fused f JOIN documents d ON d.doc_id = f.id
         |ORDER BY query_idx, doc_id""".stripMargin,

    // §2.8 maintained FTS index == a monolithic BM25 over the final
    // corpus: docs 0/2/4/6 deleted, docs 1/3 rewritten (update), the
    // rest verbatim. Same operation-for-operation BM25 mirror as the
    // hybrid_search oracle; output is ranks only.
    "fts_maintained" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, CASE WHEN doc_id IN (1, 3)
         |    THEN 'spark merge rewritten ' || text ELSE text END AS text
         |  FROM documents WHERE doc_id NOT IN (0, 2, 4, 6)
         |), toks AS (
         |  SELECT doc_id AS id,
         |    [t FOR t IN string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+') IF len(t) > 0] AS toks
         |  FROM corpus
         |), postings AS (
         |  SELECT id, term, count(*) AS tf
         |  FROM (SELECT id, unnest(toks) AS term FROM toks)
         |  WHERE term IN ('spark', 'table', 'join', 'merge')
         |  GROUP BY id, term
         |), doclens AS (
         |  SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM toks
         |), stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM doclens
         |), idf AS (
         |  SELECT term, ln(((SELECT n FROM stats) - df + 0.5) / (df + 0.5) + 1.0) AS idf
         |  FROM (SELECT term, count(DISTINCT id) AS df FROM postings GROUP BY term)
         |), contribs AS (
         |  SELECT p.id, p.term,
         |    i.idf * (p.tf * (1.2 + 1.0))
         |      / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / (SELECT avgdl FROM stats))) AS contrib
         |  FROM postings p JOIN idf i USING (term) JOIN doclens d ON d.id = p.id
         |)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, id) AS BIGINT) AS rank,
         |  id AS doc_id
         |FROM (SELECT id, sum(contrib ORDER BY term) AS score FROM contribs GROUP BY id)
         |QUALIFY rank <= $K ORDER BY rank""".stripMargin
  )
}
