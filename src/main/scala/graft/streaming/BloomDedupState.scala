package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.Portable

/** Q1: BOUNDED-STATE streaming exact dedup — the 100 TB form of G6.
  *
  * Stateful `dropDuplicates` keeps one state-store row PER KEY
  * forever: at 10¹¹ documents the state store IS the corpus, and
  * every micro-batch pays its lookup I/O.
  * `dropDuplicatesWithinWatermark` bounds state by TIME instead — but
  * a duplicate arriving after the horizon passes undetected, which
  * for corpus dedup (where the twin may arrive months later) is the
  * common case, not the corner.
  *
  * The production trade is APPROXIMATE membership in CONSTANT memory:
  * the state is a Bloom filter per hash shard (`flatMapGroupsWithState`
  * keyed by `hash(sig) mod shards`), sized for a chosen fp rate. A
  * new signature inserts and emits; a probably-seen signature drops.
  * The error is one-sided and it is the CHEAP side for training
  * corpora: a false positive drops a non-duplicate (bounded by fpp —
  * losing ~1 doc in 10⁴ is sampling noise), while false negatives —
  * the failure dedup exists to stop — are impossible (Bloom filters
  * have none). Total state = shards × filter bytes, a constant chosen
  * up front regardless of corpus size; shard count spreads both the
  * state rows and the per-batch CPU across executors.
  *
  * The signature is C1's order-normalized [[graft.functions.Portable.bagSignature]],
  * so batch and streaming dedup agree on what "exact duplicate"
  * means. Emission picks ONE representative per signature; which
  * in-batch copy wins is batch-iteration-order dependent (the same
  * nondeterminism `dropDuplicates` has) — the spec therefore gates
  * on the emitted SIGNATURE set, which is exact.
  */
object BloomDedupState {

  case class SigDoc(shard: Int, doc_id: Long, sig: String)

  /** Per-shard capacity/fp defaults: 1M expected keys at 1% fp is
    * ~1.1 MiB per shard — 64 shards ≈ 73 MiB total state for 6.4·10⁷
    * keys; scale shards (not the algorithm) for 10¹¹. */
  val DefaultShards = 64
  val DefaultExpected = 1000000L
  val DefaultFpp = 0.01

  private def serialize(bf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  private def deserialize(b: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(b))

  /** The sharded signature frame of a (possibly streaming) documents
    * frame — narrow, stream-safe. */
  def sigsOf(docs: DataFrame, shards: Int = DefaultShards): Dataset[SigDoc] = {
    import docs.sparkSession.implicits._
    docs.select(
      pmod(hash(Portable.bagSignature(col("text"))), lit(shards)).as("shard"),
      col("doc_id"), Portable.bagSignature(col("text")).as("sig"))
      .as[SigDoc]
  }

  /** First-seen docs of the stream under bounded bloom state:
    * (doc_id, sig) per NEW signature, append mode. */
  def dedupStream(docs: DataFrame, shards: Int = DefaultShards,
                  expectedPerShard: Long = DefaultExpected,
                  fpp: Double = DefaultFpp): Dataset[(Long, String)] = {
    import docs.sparkSession.implicits._
    sigsOf(docs, shards).groupByKey(_.shard)
      .flatMapGroupsWithState[Array[Byte], (Long, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, it: Iterator[SigDoc], state: GroupState[Array[Byte]]) =>
          val bf = state.getOption.map(deserialize)
            .getOrElse(BloomFilter.create(expectedPerShard, fpp))
          val kept = it.flatMap { d =>
            if (bf.mightContainString(d.sig)) None
            else { bf.putString(d.sig); Some((d.doc_id, d.sig)) }
          }.toList // drain before serializing the mutated filter
          state.update(serialize(bf))
          kept.iterator
      }
  }

  /** The constant per-shard state size in bytes for a configuration —
    * what the spec pins across batches (the whole point: state does
    * not grow with keys seen). */
  def stateBytes(expectedPerShard: Long = DefaultExpected,
                 fpp: Double = DefaultFpp): Int =
    serialize(BloomFilter.create(expectedPerShard, fpp)).length
}
