package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The near-duplicate pair kernel: the one bucket self-join of the dedup
  * family. Every generator — [[Dedup.ngramJaccardPairs]],
  * [[Dedup.winnowPairs]], [[Dedup.simhashPairs]], [[MinHash.pairs]], the
  * [[Rp]] pair joins, [[ImageHash.nearDupPairs]] and
  * [[AudioHash.nearDupPairs]] — is its key function (one row per
  * (id, key)) plus its scoring rule over [[bucketPairs]]' output.
  *
  * The skew bomb: a self-join on the bucket key is quadratic PER KEY. On a
  * real corpus one pathological key — duplicated boilerplate, zero-ish
  * embeddings, template documents — can hold 10⁵ ids, putting a
  * 10¹⁰-pair candidate partition on one task while every other task
  * idles. Nothing about a key function bounds key occupancy, so every call
  * names a [[Hot]] policy, the one contract this kernel states: no join
  * group holds more than ~`cap` rows, so the worst candidate partition is
  * bounded at ~cap² pairs regardless of input skew.
  *
  *  - [[Drop]] (the exact-key generators): a key in more than `maxDocFreq`
  *    rows leaves the join. Pairs then undercount `n_shared` by at most the
  *    dropped keys — the conservative stop-shingle contract.
  *  - [[Split]] (the banded generators): a key in more than `maxBucketSize`
  *    rows splits its members into ⌈occupancy / maxBucketSize⌉ salt groups
  *    by xxhash64(id, key); the join key becomes (key, salt). A pair inside
  *    a hot bucket meets there only if both ids draw the same salt; the
  *    salts are independent per bucket, so over T tables it still meets
  *    with probability 1−(1−1/s)^T, and pairs whose other shared buckets
  *    are cold are unaffected. True identical-content duplicates are the
  *    one population hot in EVERY table; exact dedup
  *    ([[Dedup.exactSurvivors]]) runs before near-dup in
  *    [[CorpusPrep.prepare]] so this stage never sees them.
  *
  * Keys at or under the cap pass untouched, so results equal the uncapped
  * join whenever no key exceeds it. The registered fixtures stay far under
  * every cap: `NearDupLimitsSpec` measures each generator's real maximum
  * at sf0.01 and sf0.1 and asserts it stays under its cap.
  *
  * Plan shape: lazy — no cache, no checkpoint, nothing runs at the call.
  * The keyed relation is evaluated once: the key occupancy is a
  * `count(*) over (partition by key)`, so the window's exchange on the key
  * feeds both join sides (a [[Drop]] join reads that exchange directly, a
  * [[Split]] join re-partitions it once on (key, salt)). Pairs then
  * aggregate on (id_a, id_b, payloads); a caller's filter over the
  * payloads alone is pushed below that aggregate, so candidates are scored
  * in the join stage and only survivors shuffle.
  */
object Lsh {

  /** A per-key candidate bound: see the object scaladoc. */
  sealed trait Hot
  final case class Drop(maxDocFreq: Int) extends Hot
  final case class Split(maxBucketSize: Int) extends Hot

  /** Default [[Split]] cap: bounds the worst candidate partition to
    * ~cap² ≈ 1.7×10⁷ pairs — seconds of work on one task, versus unbounded
    * quadratic blowup. At cluster scale tune DOWN toward (target partition
    * pair budget)^0.5. */
  val DefaultMaxBucketSize: Int = 4096

  /** Pairs of ids sharing at least one key.
    *
    * @param rows    one row per (id, key): column `id` (integral), the
    *                `keys` columns and the `payload` columns, which must be
    *                functionally dependent on `id`
    * @param keys    the columns that make up one key (e.g. table and bucket)
    * @param hot     the per-key candidate bound
    * @param payload columns carried to both sides of each pair
    * @return (id_a, id_b, n_shared, `<payload>_a`…, `<payload>_b`…), one
    *         row per pair with id_a < id_b; n_shared counts the join keys
    *         the pair shares after the hot-key policy
    */
  def bucketPairs(rows: DataFrame, keys: Seq[String], hot: Hot,
      payload: Seq[String] = Nil): DataFrame = {
    val (keyed, joinKeys) = bounded(rows, keys, hot)
    def side(s: String) = keyed.select(joinKeys.map(col) ++
      (col("id").as(s"id_$s") +: payload.map(p => col(p).as(s"${p}_$s"))): _*)
    val pa = payload.map(_ + "_a")
    val pb = payload.map(_ + "_b")
    side("a").join(side("b"), joinKeys)
      .filter(col("id_a") < col("id_b"))
      .groupBy((Seq("id_a", "id_b") ++ pa ++ pb).map(col): _*)
      .agg(count(lit(1)).as("n_shared"))
      .select((Seq("id_a", "id_b", "n_shared") ++ pa ++ pb).map(col): _*)
  }

  /** `rows` under `hot`, with the key occupancy as `__n`, and the columns
    * the self-join keys on: `keys` for [[Drop]], `keys` + `salt` for
    * [[Split]]. */
  private[llm] def bounded(rows: DataFrame, keys: Seq[String], hot: Hot): (DataFrame, Seq[String]) = {
    val counted = rows.withColumn("__n", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
    hot match {
      case Drop(cap) => (counted.filter(col("__n") <= cap), keys)
      case Split(cap) =>
        val salt = when(col("__n") > cap,
          pmod(xxhash64(col("id") +: keys.map(col): _*), ceil(col("__n") / cap)).cast("int"))
          .otherwise(lit(0))
        (counted.withColumn("salt", salt), keys :+ "salt")
    }
  }
}
