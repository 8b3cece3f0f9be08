package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing — the training-data step that turns a curated corpus
  * into fixed-capacity context windows: documents are concatenated in a
  * deterministic global order (doc_id) and the token stream is chunked every
  * `capacity` tokens (the GPT-style concat-then-chunk regime; a document may
  * straddle a pack boundary). Per doc we emit its global token offset and
  * the [start_pack, end_pack] range it lands in.
  *
  * The naive formulation is `sum(n_tokens) OVER (ORDER BY doc_id)` — an
  * un-partitioned window, i.e. a SinglePartition exchange that serializes
  * the whole corpus through one task. At 10^12 docs that plan is dead on
  * arrival, so the operator computes the running offset as a DISTRIBUTED
  * PREFIX SUM instead:
  *
  *   1. bucket every doc by a VALUE-derived range key
  *      (`doc_id / ceil((max_id+1)/PackBuckets)` — no sampling, so the
  *      bucketing is deterministic across runs/retries, unlike
  *      `repartitionByRange`),
  *   2. one tiny agg computes per-bucket token totals (≤ PackBuckets rows to
  *      the driver — at 10^12 docs PackBuckets is O(cluster cores), still
  *      trivially collectable),
  *   3. exclusive-prefix-sum those totals on the driver and broadcast the
  *      per-bucket base offsets in the task closure,
  *   4. one hash exchange on the bucket key + in-partition sort
  *      (bucket, doc_id), then a single sequential sweep per bucket adds
  *      base + local running sum.
  *
  * Two narrow passes + one small agg + one keyed exchange of 16-byte rows;
  * nothing global ever sits in one task. CurationOpsSpec pins the output
  * to the window formulation and asserts the plan carries no
  * SinglePartition exchange.
  */
object PackingOps {

  /** Tokens per pack of [[packChunks]], and the doc-id range buckets the
    * prefix sum runs over. */
  private val PackCapacity = 256
  private val PackBuckets = 32

  /** Per-doc packing assignment. Output: (doc_id, n_tokens, global_offset,
    * start_pack, end_pack), exact under concat-then-chunk at
    * `PackCapacity` tokens per pack.
    */
  def packChunks(df: DataFrame): DataFrame =
    packChunksCost(df, size(TextOps.wsTokens(col("text"))), PackCapacity)

  /** `packChunks` over an arbitrary per-doc cost expression — the
    * multimodal form: interleaved docs cost text tokens PLUS a per-media
    * token budget (vision-encoder patch count), but the packing math is
    * cost-agnostic. */
  def packChunksCost(df: DataFrame, cost: Column, capacity: Int = 256): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val spark = df.sparkSession
    import spark.implicits._

    val base = df.select(col("doc_id").cast("long").as("doc_id"),
      cost.cast("long").as("n_tokens"))

    val top = base.agg(max(col("doc_id"))).head() // null on zero rows
    val maxId = if (top.isNullAt(0)) 0L else top.getLong(0)
    val bucketWidth = math.max((maxId + PackBuckets) / PackBuckets, 1L)
    def bucketOf(id: Column): Column = (id / bucketWidth).cast("long")

    // per-bucket totals: ≤ PackBuckets rows — the only driver-side state
    val totals = base.groupBy(bucketOf(col("doc_id")).as("bucket"))
      .agg(sum(col("n_tokens")).as("total"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val baseOffsets: Map[Long, Long] = {
      var acc = 0L
      totals.map { case (b, t) => val o = (b, acc); acc += t; o }.toMap
    }

    val cap = capacity.toLong
    base.withColumn("bucket", bucketOf(col("doc_id")))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("doc_id"))
      .as[(Long, Long, Long)] // (doc_id, n_tokens, bucket)
      .mapPartitions { it =>
        var curBucket = Long.MinValue
        var running = 0L
        it.map { case (id, n, b) =>
          if (b != curBucket) { curBucket = b; running = baseOffsets(b) }
          val off = running
          running += n
          (id, n, off, off / cap, (off + math.max(n, 1L) - 1L) / cap)
        }
      }
      .toDF("doc_id", "n_tokens", "global_offset", "start_pack", "end_pack")
  }

  /** Reference formulation (exactness contract for the spec): the
    * un-partitioned running-sum window. Correct, but plans a
    * SinglePartition exchange — test-only. */
  private[graft] def packChunksWindow(df: DataFrame,
                                      capacity: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = capacity.toLong
    val base = df.select(col("doc_id").cast("long").as("doc_id"),
      size(TextOps.wsTokens(col("text"))).cast("long").as("n_tokens"))
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.withColumn("global_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("global_offset"),
        (col("global_offset") / cap).cast("long").as("start_pack"),
        ((col("global_offset") + greatest(col("n_tokens"), lit(1L)) - 1L) / cap)
          .cast("long").as("end_pack"))
  }

  /** Rendezvous (highest-random-weight) shard assignment + the rebalance
    * census for growing 16 → 17 shards: each key's shard is
    * the argmax over shards of md5(key ":" shard), so adding a shard moves
    * ONLY the keys the new shard now wins — ~1/(S+1) of the table, every
    * one of them INTO the new shard (the HRW minimal-disruption
    * guarantee; hash-mod resharding moves ~S/(S+1)). Weight = the LOW-64
    * hex slice of the md5 string: fixed-width lowercase hex compares
    * lexicographically as the unsigned integer it encodes, identically in
    * both engines, so no integer conversion is needed. Whole computation
    * is a codegen'd higher-order-function chain per row (transform →
    * struct array_max) + one keyed aggregate: a 10^12-key reshard PLAN
    * costs one narrow pass, no shuffle of the payload. */
  def rendezvousShards(df: DataFrame): DataFrame = {
    val oldShards = 16
    def weight(s: Column): Column =
      substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        s.cast("string")).cast("binary")), 17, 16)
    val weighted = transform(sequence(lit(0), lit(oldShards)),
      s => struct(weight(s).as("wt"), s.cast("long").as("s")))
    val s17 = array_max(weighted).getField("s")
    val s16 = array_max(filter(weighted,
      x => x.getField("s") < oldShards)).getField("s")
    df.select(col("doc_id"), s16.as("s_old"), s17.as("s_new"))
      .groupBy(col("s_new"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("s_old") =!= col("s_new"), 1L).otherwise(0L))
             .as("n_moved"))
      .orderBy(col("s_new"))
  }

  /** Feistel-network epoch permutation — the collision-free deterministic
    * global shuffle. Training wants every epoch to visit the corpus in a
    * different pseudo-random order; the naive `orderBy(rand())` is
    * non-reproducible across retries AND a full global sort of the payload.
    * A 4-round balanced Feistel network over the 2^32 id domain is a
    * BIJECTION: `pos = feistel(doc_id, epoch)` assigns every doc a unique
    * position with zero collisions by construction, computed row-locally
    * in pure codegen'd integer arithmetic — no shuffle, no materialized
    * permutation table, and the order is seekable (resume epoch 3 at
    * position 10^11 = filter `pos >= 10^11`, nothing re-read). Writing the
    * shuffled corpus is then `repartitionByRange(pos)` — the only exchange
    * in the whole job, and it replaces the rand() sort's.
    *
    * Round function F(r, k) = ((r·2654435761 + k·40503 + 97) mod 2^32) >> 16
    * (Knuth multiplicative hash; all intermediates < 2^48, exact in BIGINT
    * in any engine); round keys k = epoch·1000003 + round·7919 + 104729, so
    * each epoch is an independent permutation of the SAME domain.
    *
    * Returned census proves the contract instead of asserting it: per
    * (epoch ∈ {0, 1}, shard = pos >> 27) — the 32 range-shard files a writer would
    * cut — n_docs with n_distinct_pos (equal ⇔ injective, since equal
    * positions share a shard), and the min/max position span showing the
    * shards tile the domain. */
  def feistelShuffle(df: DataFrame): DataFrame = {
    def feistel(id: Column, epoch: Column): Column = {
      def f(r: Column, round: Int): Column =
        shiftright((r * lit(2654435761L) +
          (epoch * lit(1000003L) + lit(round * 7919L + 104729L)) * lit(40503L) +
          lit(97L)) % lit(4294967296L), 16)
      var l = shiftright(id, 16)
      var r = id.bitwiseAND(lit(65535L))
      for (round <- 0 until 4) {
        val nl = r
        val nr = l.bitwiseXOR(f(r, round))
        l = nl; r = nr
      }
      l * lit(65536L) + r
    }
    df.select(col("doc_id"),
        explode(sequence(lit(0L), lit(1L))).as("epoch"))
      .select(col("epoch"), feistel(col("doc_id"), col("epoch")).as("pos"))
      .groupBy(col("epoch"), shiftright(col("pos"), 27).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("pos")).as("n_distinct_pos"),
           min(col("pos")).as("min_pos"), max(col("pos")).as("max_pos"))
      .orderBy(col("epoch"), col("shard"))
  }
}
