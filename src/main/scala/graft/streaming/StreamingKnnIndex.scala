package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.llm.KnnGraph

/** Streaming maintenance of the persisted k-NN graph index — the
  * [[StreamingDedup]]/[[StreamingNearDup]] foreachBatch loop applied to
  * [[graft.llm.KnnGraph.upsert]]: each micro-batch of new vectors
  * extends the [[graft.llm.KnnGraph.saveIndex]] node-record table (new
  * nodes get full edge lists, touched base nodes splice back-edges and
  * re-cut, untouched nodes pass through) and refreshes the medoid entry
  * table, so [[graft.llm.KnnGraph.searchIndexed]] always serves the
  * current corpus. Because the upsert law is exact
  * (upsert(build(B), N) ≡ build(B ∪ N), q269), the maintained index
  * after ANY batch split equals the full rebuild — q276 hash-certifies
  * the two-batch composition against q264's rebuild oracle, and
  * StreamingKnnIndexSpec pins streaming ≡ the same batch-sequential
  * composition (the q67/q81/q91/q116 convention).
  *
  * Ordering/failure semantics: batches commute into the same final
  * graph (each is exact vs the rebuild), and a replayed micro-batch is
  * a TRUE no-op because [[ingestBatch]] anti-joins the batch against
  * the loaded index's vec_ids before upserting — foreachBatch is
  * at-least-once, and without the gate a replayed source's rows would
  * enter twice (once through the upsert's new-edge tier, once through
  * the rows already in the table) and the embedding union would
  * duplicate its node record. An already-fully-replayed batch skips
  * the table write entirely.
  *
  * Failure semantics: a batch reads the live index lazily and stages
  * every byte it writes before any live table changes
  * ([[graft.llm.IndexCommit]]), so a batch that fails leaves the
  * previous index serving byte-identical results, and its replay
  * succeeds. The commit swaps the entry table before the node
  * partitions, so a replay after a commit cut between the two reruns
  * the whole batch and converges. The commit is not atomic under
  * concurrent readers, so the single-writer contract of the other
  * ingest loops applies to the index name. What a batch caches keeps
  * its lineage and is released before it returns: a lost block
  * recomputes from the live tables, which no commit changes while a
  * job runs.
  *
  * Scale note: the upsert COMPUTES only touched + new rows (|batch|'s
  * cell footprint, never |base|) and the WRITE is bounded the same way
  * — the node table is partitioned on its own bucket id
  * ([[graft.llm.KnnGraph.saveIndex]]'s layout), the touched/new/deleted
  * ids name the buckets they hash to, and
  * [[graft.llm.KnnGraph.saveIndexDelta]] stages and swaps exactly
  * those `bkt` partitions; every other node record stays on
  * disk byte-identical (spec-pinned). Per micro-batch the index IO is
  * O(touched buckets), never O(index); the `--knnwrite` ScaleStress
  * curve measures the written fraction falling as the corpus grows.
  * The q273 serving path is unchanged (same probe plans, same bucket
  * pruning). */
object StreamingKnnIndex {

  /** Reload a persisted index into [[graft.llm.KnnGraph.upsert]]'s
    * input shape: (embeddings, edges with sims). */
  def load(spark: SparkSession, name: String): (DataFrame, DataFrame) =
    KnnGraph.loadIndex(spark, name)

  /** One micro-batch of index maintenance — exposed so the
    * batch-sequential rendering is the SAME code (parity spec, q276).
    * `batch` needs (vec_id, embedding); ids already in the index are
    * dropped (the at-least-once replay gate — see the object doc), so
    * only genuinely-new vectors reach the upsert. Returns the write
    * receipt — (bkt partitions rewritten, bytes written) — that the
    * `--knnwrite` ScaleStress curve turns into the write-amplification
    * measurement; (empty, 0) for a fully-replayed batch. */
  def ingestBatch(batch: DataFrame, name: String, cs: Array[Array[Float]],
      degree: Int, nProbe: Int, buckets: Int): (Seq[Int], Long) = {
    val (embBase, edges0) = load(batch.sparkSession, name)
    // replay gate: foreachBatch is at-least-once, and upsert's contract
    // is ids-new-to-the-index — a replayed source would otherwise enter
    // twice (its table rows AND the upsert's new-edge tier). The
    // anti-join makes a replayed batch a true no-op; a fully-replayed
    // batch also skips the table write below. Every later step reads the
    // survivors, so they stay cached (with lineage) for the op instead of
    // re-running the anti-join against the whole node table each time.
    val fresh = batch.select("vec_id", "embedding")
      .join(embBase.select("vec_id"), Seq("vec_id"), "left_anti").persist()
    try {
      if (fresh.isEmpty) (Seq.empty, 0L)
      else {
        val (g1, touched, pairs) = KnnGraph.upsertTouched(
          edges0, embBase, fresh, cs, degree, nProbe)
        // write ONLY the buckets the batch touched (new node records +
        // spliced base lists); the maintained index keeps its own layout
        // — saveIndexDelta re-encodes PQ codes for the rewritten rows
        // through the PERSISTED codebook (never re-derived from pinned
        // rows, which a changelog may have deleted), so codes stay
        // comparable across batches; dropping the column would break
        // every later searchIndexedPq.
        try KnnGraph.saveIndexDelta(batch.sparkSession, name, g1,
          embBase.unionByName(fresh), cs, buckets,
          touched.unionByName(fresh.select("vec_id")))
        finally KnnGraph.release(pairs)
      }
    } finally fresh.unpersist()
  }

  /** Apply one CDC micro-batch to the persisted index — the full
    * changelog shape the warehouse plane's maintainers take
    * ([[graft.operators.Upsert]] rows, [[graft.operators.AggMaintain]]
    * aggregates; this is the ANN-index member): `changelog` carries
    * (vec_id, embedding, op) with op "I"/"D" (embedding unused for
    * "D"). Deletes apply first (tombstone + probe-cell re-fill,
    * [[graft.llm.KnnGraph.delete]]), then inserts splice
    * ([[graft.llm.KnnGraph.upsert]]) — composing the two EXACT laws
    * gives apply(build(B), cl) ≡ build((B ∖ D) ∪ N) exactly, which is
    * how q277 hash-certifies it (rebuild-side oracle). An id in both
    * D and N is a vector REPLACEMENT: it leaves with its old edges and
    * re-enters through the insert path with the new embedding. */
  def applyChangelog(changelog: DataFrame, name: String,
      cs: Array[Array[Float]], degree: Int, nProbe: Int,
      buckets: Int): (Seq[Int], Long) = {
    val (emb0, edges0) = load(changelog.sparkSession, name)
    val dels = changelog.filter(col("op") === "D").select("vec_id")
    val ins = changelog.filter(col("op") === "I").select("vec_id", "embedding")
    val (g1, touchedD) = KnnGraph.deleteTouched(
      edges0, emb0, dels, cs, degree, nProbe)
    val emb1 = emb0.join(dels, Seq("vec_id"), "left_anti")
    val (g2, touchedI, pairs) = KnnGraph.upsertTouched(
      g1, emb1, ins, cs, degree, nProbe)
    // the buckets to rewrite: deleted rows leave them, re-filled and
    // spliced survivor lists change in them, inserted rows enter them
    val affected = dels
      .unionByName(touchedD).unionByName(touchedI)
      .unionByName(ins.select("vec_id"))
    // dels rides along so the entry-medoid merge knows whether a stored
    // medoid left (or was replaced) — only then does the O(corpus) entry
    // recompute fire; insert-only batches (and delete batches missing
    // every medoid) merge against the stored medoids instead
    try KnnGraph.saveIndexDelta(changelog.sparkSession, name, g2,
      emb1.unionByName(ins), cs, buckets, affected, Some(dels))
    finally KnnGraph.release(pairs)
  }

  /** The streaming maintenance sink: call `.start()` to run. */
  def ingest(stream: DataFrame, name: String, cs: Array[Array[Float]],
      degree: Int, nProbe: Int, buckets: Int,
      checkpointDir: String): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        ingestBatch(b.toDF(), name, cs, degree, nProbe, buckets)
        ()
      }
}
