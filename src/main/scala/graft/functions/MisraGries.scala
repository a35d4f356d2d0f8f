package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Misra–Gries heavy-hitters summary (Misra & Gries, "Finding Repeated
  * Elements", 1982; mergeable form per Agarwal, Cormode, Huang, Phillips,
  * Wei & Yi, "Mergeable Summaries", PODS 2012) — the deterministic
  * frequency member of the bounded-state sketch family, beside CMS
  * ([[CountMinAggregator]]), HLL and KLL. Where CMS
  * OVERestimates (hash collisions add) and its error bound is
  * probabilistic, Misra–Gries UNDERestimates and carries a deterministic
  * guarantee with no hashing at all:
  *
  *   true(x) − n/(k+1)  ≤  est(x)  ≤  true(x)        for every key x,
  *
  * and every key with true(x) > n/(k+1) is GUARANTEED present in the
  * summary (its estimate is positive). Both facts hold regardless of
  * input order or merge schedule, which is exactly what makes the summary
  * oracle-gateable: the registered queries assert the two theorems as
  * flags (the HeavyHitterGuard pattern, the frequency analog of
  * [[graft.operators.QuantileGuard]]) while the exact top-k rows are
  * recomputed independently by DuckDB.
  *
  * State is at most k (key, count) pairs — O(k) per group and per shuffle
  * block, independent of input size — and the serialized form is a plain
  * (key, count) list that merges associatively, so per-grain cells
  * (minute → day → total) re-slice without re-touching raw rows, the same
  * lifecycle as the KLL rollup cells
  * ([[graft.streaming.Ingest.upsertQuantileRollup]]).
  *
  * Merge (Mergeable Summaries §3.1): add counters pointwise; if more than
  * k keys survive, subtract the (k+1)-th largest counter value from every
  * counter and drop the non-positives. Each subtraction of c hits ≥ k+1
  * counters' worth of weight (the k survivors-to-be plus the removed
  * ones), so the total subtracted from any single key across the whole
  * merge tree stays ≤ n/(k+1) — the streaming bound survives arbitrary
  * distributed merge orders, unweakened.
  *
  * Representation note: entries live in PLAIN parallel arrays (dense
  * prefix, linear probe) rather than a hash map. At k ≤ a few hundred a
  * linear scan over a long[] is cache-resident and as fast as hashing —
  * and, decisively, primitive arrays are the one shape Spark's Kryo
  * buffer encoder round-trips reliably; `mutable.LongMap` in a Kryo
  * aggregation buffer deserializes into a structurally corrupt object
  * that SEGVs the JVM inside `foreachEntry` (observed on Spark 4.1.2's
  * chill registrar).
  */
object MisraGries {

  /** Default k: 64 (key,count) pairs ≈ 1 KB serialized; error bound
    * n/65 ≈ 1.5% of total weight. */
  val DefaultK = 64

  /** Mutable summary of at most [[k]] keyed counters. Slots [0, used)
    * of the parallel arrays are occupied; capacity 2k absorbs the
    * pre-truncation union during [[mergeWith]]. */
  final class Summary(val k: Int) extends Serializable {
    require(k >= 1, s"k must be >= 1: $k")
    var keys: Array[Long] = new Array[Long](2 * k)
    var counts: Array[Long] = new Array[Long](2 * k)
    var used: Int = 0
    /** Total weight observed (NOT the sum of counters — decrements eat
      * counter mass but n keeps counting, which is what the error bound
      * is stated against). */
    var n: Long = 0L

    private def indexOf(key: Long): Int = {
      var i = 0
      while (i < used) {
        if (keys(i) == key) return i
        i += 1
      }
      -1
    }

    def add(key: Long): Unit = {
      n += 1
      val i = indexOf(key)
      if (i >= 0) counts(i) += 1L
      else if (used < k) { keys(used) = key; counts(used) = 1L; used += 1 }
      else {
        // summary full and key absent: the classic decrement-all step —
        // one unit leaves k+1 distinct keys' mass (the k counters plus
        // the arriving key), so this branch executes ≤ n/(k+1) times
        subtractAndCompact(1L)
      }
    }

    /** counters -= c, keep positives, keep the dense-prefix invariant. */
    private def subtractAndCompact(c: Long): Unit = {
      var w = 0
      var i = 0
      while (i < used) {
        val nc = counts(i) - c
        if (nc > 0L) { keys(w) = keys(i); counts(w) = nc; w += 1 }
        i += 1
      }
      used = w
    }

    /** Mergeable-summaries merge: pointwise sum, then if over capacity
      * subtract the (k+1)-th largest counter from all and keep positives. */
    def mergeWith(o: Summary): Summary = {
      require(o.k == k, s"cannot merge Misra-Gries summaries with different k: $k vs ${o.k}")
      var j = 0
      while (j < o.used) {
        val i = indexOf(o.keys(j))
        if (i >= 0) counts(i) += o.counts(j)
        else { keys(used) = o.keys(j); counts(used) = o.counts(j); used += 1 }
        j += 1
      }
      n += o.n
      if (used > k) {
        // (k+1)-th largest counter = index used-1-k of the ascending sort
        val sorted = java.util.Arrays.copyOfRange(counts, 0, used)
        java.util.Arrays.sort(sorted)
        subtractAndCompact(sorted(used - 1 - k))
      }
      this
    }

    /** Estimated count of `key` (0 if evicted/never seen — by the
      * guarantee, a 0 certifies true(key) ≤ n/(k+1)). */
    def estimate(key: Long): Long = {
      val i = indexOf(key)
      if (i >= 0) counts(i) else 0L
    }

    /** The deterministic error slack: any estimate is below the true
      * count by at most this. */
    def errorBound: Long = n / (k + 1).toLong

    def size: Int = used

    /** Entries sorted (count desc, key asc) — deterministic readout. */
    def entries: Seq[(Long, Long)] =
      (0 until used).map(i => (keys(i), counts(i)))
        .sortBy { case (key, c) => (-c, key) }

    def serialize(): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(k)
      out.writeLong(n)
      out.writeInt(used)
      // key-sorted for a canonical byte form
      (0 until used).map(i => (keys(i), counts(i))).sortBy(_._1)
        .foreach { case (kk, c) => out.writeLong(kk); out.writeLong(c) }
      out.flush()
      bos.toByteArray
    }
  }

  def deserialize(bytes: Array[Byte]): Summary = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new Summary(in.readInt())
    s.n = in.readLong()
    val size = in.readInt()
    var i = 0
    while (i < size) {
      s.keys(i) = in.readLong()
      s.counts(i) = in.readLong()
      i += 1
    }
    s.used = size
    s
  }

  /** String-keyed twin of [[Summary]] for id spaces that aren't integral
    * (the streaming path's uuid user ids). Same algorithm, same theorems,
    * same array representation (an Array[String] round-trips Kryo as
    * safely as a long[]); kept as a separate class rather than a generic
    * one so the hot Long path stays primitive and boxing-free. */
  final class SummaryS(val k: Int) extends Serializable {
    require(k >= 1, s"k must be >= 1: $k")
    var keys: Array[String] = new Array[String](2 * k)
    var counts: Array[Long] = new Array[Long](2 * k)
    var used: Int = 0
    var n: Long = 0L

    private def indexOf(key: String): Int = {
      var i = 0
      while (i < used) {
        if (keys(i) == key) return i
        i += 1
      }
      -1
    }

    def add(key: String): Unit = {
      n += 1
      val i = indexOf(key)
      if (i >= 0) counts(i) += 1L
      else if (used < k) { keys(used) = key; counts(used) = 1L; used += 1 }
      else subtractAndCompact(1L)
    }

    private def subtractAndCompact(c: Long): Unit = {
      var w = 0
      var i = 0
      while (i < used) {
        val nc = counts(i) - c
        if (nc > 0L) { keys(w) = keys(i); counts(w) = nc; w += 1 }
        i += 1
      }
      used = w
    }

    def mergeWith(o: SummaryS): SummaryS = {
      require(o.k == k, s"cannot merge Misra-Gries summaries with different k: $k vs ${o.k}")
      var j = 0
      while (j < o.used) {
        val i = indexOf(o.keys(j))
        if (i >= 0) counts(i) += o.counts(j)
        else { keys(used) = o.keys(j); counts(used) = o.counts(j); used += 1 }
        j += 1
      }
      n += o.n
      if (used > k) {
        val sorted = java.util.Arrays.copyOfRange(counts, 0, used)
        java.util.Arrays.sort(sorted)
        subtractAndCompact(sorted(used - 1 - k))
      }
      this
    }

    def estimate(key: String): Long = {
      val i = indexOf(key)
      if (i >= 0) counts(i) else 0L
    }

    def errorBound: Long = n / (k + 1).toLong
    def size: Int = used

    def entries: Seq[(String, Long)] =
      (0 until used).map(i => (keys(i), counts(i)))
        .sortBy { case (key, c) => (-c, key) }

    def serialize(): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(k)
      out.writeLong(n)
      out.writeInt(used)
      (0 until used).map(i => (keys(i), counts(i))).sortBy(_._1)
        .foreach { case (kk, c) => out.writeUTF(kk); out.writeLong(c) }
      out.flush()
      bos.toByteArray
    }
  }

  def deserializeS(bytes: Array[Byte]): SummaryS = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new SummaryS(in.readInt())
    s.n = in.readLong()
    val size = in.readInt()
    var i = 0
    while (i < size) {
      s.keys(i) = in.readUTF()
      s.counts(i) = in.readLong()
      i += 1
    }
    s.used = size
    s
  }

  /** keys → serialized summary (the rollup-cell builder; liftable to an
    * untyped UDAF with `udaf(new MgFromKeys(), Encoders.scalaLong)`). */
  final class MgFromKeys(k: Int = DefaultK)
    extends Aggregator[Long, Summary, Array[Byte]] {
    override def zero: Summary = new Summary(k)
    override def reduce(s: Summary, key: Long): Summary = { s.add(key); s }
    override def merge(a: Summary, b: Summary): Summary = a.mergeWith(b)
    override def finish(s: Summary): Array[Byte] = s.serialize()
    override def bufferEncoder: Encoder[Summary] = Encoders.kryo[Summary]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** serialized summaries → merged serialized summary (the any-grain
    * re-slicer — Misra–Gries' `hll_union_agg`). */
  final class MgMergeAgg(k: Int = DefaultK)
    extends Aggregator[Array[Byte], Summary, Array[Byte]] {
    override def zero: Summary = new Summary(k)
    override def reduce(s: Summary, bytes: Array[Byte]): Summary =
      s.mergeWith(deserialize(bytes))
    override def merge(a: Summary, b: Summary): Summary = a.mergeWith(b)
    override def finish(s: Summary): Array[Byte] = s.serialize()
    override def bufferEncoder: Encoder[Summary] = Encoders.kryo[Summary]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** String-keyed builder ([[SummaryS]]) — the streaming rollup's cell
    * aggregator over uuid user ids. */
  final class MgFromStrings(k: Int = DefaultK)
    extends Aggregator[String, SummaryS, Array[Byte]] {
    override def zero: SummaryS = new SummaryS(k)
    override def reduce(s: SummaryS, key: String): SummaryS = { s.add(key); s }
    override def merge(a: SummaryS, b: SummaryS): SummaryS = a.mergeWith(b)
    override def finish(s: SummaryS): Array[Byte] = s.serialize()
    override def bufferEncoder: Encoder[SummaryS] = Encoders.kryo[SummaryS]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** String-keyed re-slicer. */
  final class MgMergeAggS(k: Int = DefaultK)
    extends Aggregator[Array[Byte], SummaryS, Array[Byte]] {
    override def zero: SummaryS = new SummaryS(k)
    override def reduce(s: SummaryS, bytes: Array[Byte]): SummaryS =
      s.mergeWith(deserializeS(bytes))
    override def merge(a: SummaryS, b: SummaryS): SummaryS = a.mergeWith(b)
    override def finish(s: SummaryS): Array[Byte] = s.serialize()
    override def bufferEncoder: Encoder[SummaryS] = Encoders.kryo[SummaryS]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }
}
