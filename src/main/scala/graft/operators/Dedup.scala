package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{GraftFunctions, SessionMemo}

/** Near-duplicate detection primitives for training-data pipelines: MinHash
  * signatures over n-gram shingles, SimHash, and token-set Jaccard. Pure
  * Scala (unit-testable); Spark surface is the codegen expressions and
  * UDF values the bucketed plans in graft.queries.DedupQueries apply.
  *
  * Scale design: all pairwise work is LSH-bucketed — signatures shuffle once
  * on (band, bandHash) and only bucket collisions generate candidate pairs,
  * so cost is O(n · bands + collisions), never O(n²) (SNIPPETS/PAPERS
  * MinHash-LSH scheme; 100 TB-safe because bucket sizes are bounded by
  * near-dup cluster sizes, with a cap as skew guard).
  */
object Dedup {

  val NumHashes = 64
  // 8 bands × 8 rows: candidate probability = 1-(1-j^8)^8 — near-1 for
  // jaccard ≥ 0.85, negligible below ~0.6. (4-row bands admit far too many
  // moderately-similar candidates on repetitive corpora.)
  val Bands = 8
  val RowsPerBand: Int = NumHashes / Bands // 8

  /** FNV-1a 64-bit string hash (deterministic across JVMs). */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def tokens(text: String): Array[String] =
    if (text == null || text.isEmpty) Array.empty else text.split(" +")

  /** Hashed n-gram token shingles. */
  def shingleHashes(text: String, n: Int = 3): Array[Long] = {
    val t = tokens(text)
    if (t.length < n) Array(fnv64(t.mkString(" ")))
    else Array.tabulate(t.length - n + 1)(i => fnv64(t.slice(i, i + n).mkString(" ")))
  }

  // fixed affine hash family (seeded, deterministic)
  private val rnd = new java.util.Random(42)
  private val hashA = Array.fill(NumHashes)(rnd.nextLong() | 1L)
  private val hashB = Array.fill(NumHashes)(rnd.nextLong())

  /** MinHash signature of a shingle-hash set. */
  def minHashSignature(sh: Array[Long]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val x = sh(i)
      var k = 0
      while (k < NumHashes) {
        val v = hashA(k) * x + hashB(k)
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    sig
  }

  /** LSH band hashes of a signature: Bands values, each summarizing
    * RowsPerBand signature rows. Equal band hash ⇒ candidate pair.
    */
  def bandHashes(sig: Array[Long]): Array[Long] =
    Array.tabulate(Bands) { b =>
      var h = 0xcbf29ce484222325L ^ b
      var r = 0
      while (r < RowsPerBand) {
        h ^= sig(b * RowsPerBand + r)
        h *= 0x100000001b3L
        r += 1
      }
      h
    }

  def minHashBands(text: String): Array[Long] =
    bandHashes(minHashSignature(shingleHashes(text)))

  /** Lowest-b-bits compression of a minhash signature (b-bit minhash,
    * Li & König 2010): keeps only the low `b` bits of every hash, packed
    * little-endian — a 64/b× smaller signature. Random collisions between
    * unequal hashes (probability 1/2^b) are corrected in
    * [[bBitSimilarity]]'s estimator. `b` must divide 64 so no value
    * straddles a word boundary.
    */
  def bBitSignature(sig: Array[Long], b: Int): Array[Long] = {
    require(64 % b == 0, s"b=$b must divide 64")
    val out = new Array[Long]((sig.length * b + 63) / 64)
    val mask = (1L << b) - 1
    var i = 0
    while (i < sig.length) {
      val bit = i * b
      out(bit / 64) |= (sig(i) & mask) << (bit % 64)
      i += 1
    }
    out
  }

  /** Collision-corrected Jaccard estimate from two b-bit signatures:
    * E[match] = j + (1-j)/2^b, so ĵ = (matchFrac − 1/2^b)/(1 − 1/2^b),
    * clamped at 0.
    */
  def bBitSimilarity(pa: Array[Long], pb: Array[Long],
                     numHashes: Int, b: Int): Double = {
    val mask = (1L << b) - 1
    var matches = 0
    var i = 0
    while (i < numHashes) {
      val bit = i * b
      val va = (pa(bit / 64) >>> (bit % 64)) & mask
      val vb = (pb(bit / 64) >>> (bit % 64)) & mask
      if (va == vb) matches += 1
      i += 1
    }
    val c = 1.0 / (1L << b)
    math.max(0.0, (matches.toDouble / numHashes - c) / (1 - c))
  }

  /** Estimated Jaccard from two signatures (fraction of agreeing rows). */
  def signatureSimilarity(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** Per-thread LRU of shingle sets: candidate pairs repeat each document
    * once per similar partner, so the set is rebuilt O(partners) times
    * without it.
    */
  private val shingleCache = new graft.geo.Memo.PerThread[String, Set[Long]](96)

  private def shingleSet(t: String): Set[Long] = {
    val hit = shingleCache.get(t)
    if (hit != null) hit else shingleCache.put(t, shingleHashes(t).toSet)
  }

  /** Sorted distinct shingle-hash array — the SAME set shingleJaccard
    * compares (shingleHashes(t).toSet), materialized once per document so
    * a verify join can merge-count the intersection
    * (Expressions.SortedIntersectCountExpr) instead of rebuilding boxed
    * hash sets per candidate pair.
    */
  def shingleHashesSorted(text: String): Array[Long] = {
    val h = shingleHashes(text)
    java.util.Arrays.sort(h)
    var n = 0
    var i = 0
    while (i < h.length) {
      if (n == 0 || h(i) != h(n - 1)) { h(n) = h(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(h, n)
  }

  /** ArrayData forms of [[shingleHashesSorted]] / bands-from-hashes for the
    * native codegen expressions (Expressions.ShingleHashesSortedExpr /
    * MinhashBandsExpr): inputs read straight off the row buffer, outputs
    * returned as primitive-backed UnsafeArrayData — no Seq boxing and no
    * CatalystTypeConverters element walk on either side of the Scala UDFs
    * they replace. Both delegate to the SAME boxed functions DedupSpec
    * pins, so there is exactly one owner of the hash arithmetic
    * (toLongArray on an UnsafeArrayData is a single primitive copy). One
    * semantic difference, deliberate: the expressions are null-in-null-out
    * (nullSafeEval), while the legacy String UDF hashed a null text like
    * an empty one — the minhash plans therefore coalesce the text to ''
    * at the call site, which reproduces the legacy banding byte-for-byte
    * even on a null-text row.
    */
  def shingleHashesSortedData(t: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      shingleHashesSorted(t.toString))

  def bandsFromHashesData(sh: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      bandHashes(minHashSignature(sh.toLongArray())))

  /** Exact Jaccard over hashed shingle sets. */
  def shingleJaccard(ta: String, tb: String): Double = {
    val a = shingleSet(ta)
    val b = shingleSet(tb)
    if (a.isEmpty && b.isEmpty) 1.0
    else (a & b).size.toDouble / (a | b).size
  }

  /** Exact Jaccard over distinct token sets. */
  def tokenJaccard(ta: String, tb: String): Double = {
    val a = tokens(ta).toSet
    val b = tokens(tb).toSet
    if (a.isEmpty && b.isEmpty) 1.0
    else (a & b).size.toDouble / (a | b).size
  }

  /** 64-bit SimHash over tokens. */
  def simHash64(text: String): Long = {
    val counts = new Array[Int](64)
    tokens(text).foreach { t =>
      val h = fnv64(t)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (counts(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** The 4 16-bit chunks of a simhash — hamming ≤ 3 ⇒ at least one chunk
    * equal (pigeonhole), so chunk-equality bucketing finds all such pairs.
    */
  def simHashChunks(h: Long): Array[Long] =
    Array.tabulate(4)(i => (h >>> (i * 16)) & 0xffffL)

  // Manku/Jain/Sarma (WWW'07 "Detecting Near-Duplicates for Web Crawling")
  // block-permuted keys — the BILLION-document form of the same hamming ≤ 3
  // search. 16-bit chunk buckets have a 2^16 key space, so occupancy (and
  // candidate pairs, quadratically) grows once the corpus passes ~10⁶
  // docs. Splitting the fingerprint into 6 blocks instead, any pair at
  // hamming ≤ 3 leaves ≥ 3 blocks untouched (pigeonhole over 6 blocks / 3
  // errors), so keying every 3-block combination — C(6,3) = 20 keys of
  // 32-33 significant bits — still finds ALL such pairs while the key
  // space grows to ~2^32: occupancy stays O(1) into the billions. The
  // verify-by-exact-hamming step downstream makes the two schemes
  // OUTPUT-IDENTICAL (both are exhaustive for hamming ≤ 3; false
  // positives die in the filter) — SimHashBlockSpec asserts it.
  private val BlockWidths = Array(11, 11, 11, 11, 10, 10)
  private val BlockOffsets = BlockWidths.scanLeft(0)(_ + _) // 0,11,22,...,64
  private val BlockCombos: Array[Array[Int]] =
    (0 until 6).combinations(3).map(_.toArray).toArray // 20 combos

  /** The 20 Manku 3-of-6 block keys of a simhash, tagged with the combo
    * index in the top bits so different combos never collide.
    */
  def simHashBlockKeys(h: Long): Array[Long] = {
    val blocks = Array.tabulate(6) { i =>
      (h >>> BlockOffsets(i)) & ((1L << BlockWidths(i)) - 1)
    }
    Array.tabulate(BlockCombos.length) { c =>
      val Array(i, j, k) = BlockCombos(c)
      var key = blocks(i)
      key = (key << BlockWidths(j)) | blocks(j)
      key = (key << BlockWidths(k)) | blocks(k)
      (c.toLong << 34) | key // ≤ 33 significant key bits + combo tag
    }
  }

  /** Corpus size above which the simhash bucket scheme switches from the
    * 4×16-bit chunks (occupancy n/2^16) to Manku 3-of-6 block keys
    * (occupancy n/2^32): at ~2²⁰ docs chunk occupancy passes 16 and the
    * candidate join starts its quadratic climb. Below the threshold the
    * chunk scheme is cheaper (4 keys/doc vs 20).
    */
  val SimHashBlockThreshold: Long = 1L << 20

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Global first-occurrence survivor pick for segment-level dedup: for each
    * `seg_h`, keep only the row with the lexicographically smallest
    * `(doc_id, seg_idx)`. One shuffle on the hash (min-of-struct partial
    * aggregates map-side), then a co-partitioned rejoin on the same key.
    *
    * Deliberately NOT an arithmetic rank like `doc_id * K + seg_idx`: any
    * fixed K silently overflows into the next doc's range once a document
    * has ≥ K segments (a ~10·K-token document), mis-picking the survivor
    * while an oracle using the same formula still matches.
    */
  def keepFirstOccurrence(segs: DataFrame): DataFrame = {
    val first = segs.groupBy("seg_h")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("keep"))
    segs.join(first, "seg_h")
      .where(col("doc_id") === col("keep.doc_id") &&
        col("seg_idx") === col("keep.seg_idx"))
      .drop("keep")
  }

  /** Cross-corpus exact dedup via a fixed-size Bloom filter: drop probe
    * rows whose key is (probably) already in the build corpus.
    *
    * This is the incremental-crawl shape: the kept corpus is orders of
    * magnitude larger than the new batch, so shuffling build-side KEYS into
    * a join is the wrong plan at 100 TB. Instead the build side folds into
    * an mBits-wide bitset — `posCol` yields each row's k bit positions, the
    * distinct positions (≤ mBits values, REGARDLESS of corpus size) come
    * back to the driver, and the O(KB) word array rides in the probe plan
    * (BitsetOps.allSet over a plan-embedded constant), making the probe
    * pass map-only with no shuffle and no broadcast of corpus keys.
    *
    * Guarantees: no false negatives (a clear bit proves the key is new), so
    * every true duplicate is dropped; false positives drop ~(1-e^{-kn/m})^k
    * of genuinely-new rows — acceptable for crawl dedup where recall of
    * NEW content matters more than keeping every last row, and measurable
    * by re-checking kept rows exactly downstream if needed.
    */
  def bloomDedup(build: DataFrame, probe: DataFrame, posCol: Column,
                 mBits: Int): DataFrame = {
    require(mBits % 64 == 0, s"mBits must be a multiple of 64, got $mBits")
    val words = new Array[Long](mBits / 64)
    build.select(explode(posCol).as("p")).distinct()
      .collect().foreach { r =>
        val p = r.getInt(0)
        require(p >= 0 && p < mBits, s"position $p outside [0, $mBits)")
        words(p >>> 6) |= 1L << (p & 63)
      }
    val maybePresent = GraftFunctions.kernel(
      graft.engine.BitsetOps, "allSet", BooleanType, GraftFunctions.const(words), posCol)
    probe.where(!maybePresent)
  }

  /** Per-row serialized-size estimate in bytes: actual lengths for
    * string/binary/array payloads, fixed width for everything else. Used by
    * [[fitsBroadcast]] so the guard thresholds on BYTES — 2M rows of long
    * documents are multi-GB (never broadcastable) while 2M bare ids are
    * ~16 MB (fine).
    */
  private[graft] def approxRowBytes(schema: StructType): Column =
    schema.fields.map { f =>
      f.dataType match {
        case StringType => coalesce(octet_length(col(f.name)).cast("long"), lit(0L))
        case BinaryType => coalesce(length(col(f.name)).cast("long"), lit(0L))
        case ArrayType(_, _) =>
          coalesce(size(col(f.name)).cast("long"), lit(0L)) * 8L + lit(16L)
        case _ => lit(8L)
      }
    }.reduceOption(_ + _).getOrElse(lit(8L))

  /** Broadcast a verify-stage corpus side only when it is provably small.
    *
    * The LSH plans re-join id-only candidate pairs to the corpus to fetch
    * payloads; broadcasting the corpus is right at test scale and impossible
    * at 100 TB. The probe is ONE bounded job over `limit(maxRows+1)` that
    * returns both the capped row count and the summed payload bytes
    * ([[approxRowBytes]], or a caller-supplied per-row estimator when the
    * JOINED payload differs from the probed frame — e.g. minhash's verify
    * broadcasts per-doc shingle-hash ARRAYS built from the text, so the
    * honest estimate is 8 bytes per token, not the text length); the frame
    * fits only if it is under BOTH caps. Above either cap the caller gets
    * the bare frame and the join shuffles both sides on the id — the only
    * plan that survives an unbroadcastable corpus. Decisions are memoized
    * per input version, estimator and caps, so bench reps and twin queries
    * pay the probe once, not per build.
    */
  def fitsBroadcast(df: DataFrame,
                    maxRows: Long = 2000000L,
                    maxBytes: Long = 256L << 20,
                    rowBytes: Option[Column] = None): Boolean = {
    val estimator = rowBytes.getOrElse(approxRowBytes(df.schema))
    val estimatorTag = rowBytes.fold("default")(_.toString)
    SessionMemo.getOrCompute(df, s"broadcast:$estimatorTag:$maxRows:$maxBytes") {
      val capped = df.limit((maxRows + 1).min(Int.MaxValue).toInt)
      val probe = capped
        .agg(count(lit(1)).as("n"), sum(estimator).as("bytes"))
        .head()
      val n = probe.getLong(0)
      val bytes = if (probe.isNullAt(1)) 0L else probe.getLong(1)
      n <= maxRows && bytes <= maxBytes
    }
  }

  def hintIf(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df

  // The SimHash kernels the dedup_simhash plan applies, as Column
  // functions; the names label the plan's calls.
  val simHash64Udf = udf((t: String) => simHash64(t)).withName("simhash64")
  val simHashChunksUdf =
    udf((t: String) => simHashChunks(simHash64(t))).withName("simhash_chunks")
  val simHashBlockKeysUdf =
    udf((t: String) => simHashBlockKeys(simHash64(t))).withName("simhash_block_keys")
  val hamming64Udf = udf((a: Long, b: Long) => hamming(a, b)).withName("hamming64")
}
