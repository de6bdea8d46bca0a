package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic 64-bit mixing (splitmix64 finalizer). Public static so
  * generated code can call it.
  */
object HashUtil {
  final val Golden: Long = 0x9e3779b97f4a7c15L

  def mix(zIn: Long): Long = {
    var z = zIn
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Rabin-Karp rolling-hash fingerprint: min of the hashes of all
    * `w`-byte windows of `bytes` (mixed to spread); stable doc identity
    * under small edits outside the minimal window.
    */
  def rabinFingerprint(bytes: Array[Byte], w: Int): Long = {
    if (bytes.length == 0) return 0L
    val win = math.min(w, bytes.length)
    val B = 257L
    var pow = 1L // B^(win-1)
    var i = 1
    while (i < win) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < win) { h = h * B + (bytes(i) & 0xff); i += 1 }
    var minH = mix(h)
    i = win
    while (i < bytes.length) {
      h = (h - (bytes(i - win) & 0xff) * pow) * B + (bytes(i) & 0xff)
      val m = mix(h)
      if (m < minH) minH = m
      i += 1
    }
    minH
  }
}

/** One-pass shingling kernels shared by the interpreted and generated
  * paths. All emit SORTED DISTINCT hash arrays so set operations downstream
  * can run as linear merges instead of hash-set builds.
  */
object ShingleUtil {
  import HashUtil.{Golden, mix}

  /** Sort + dedup in place; wraps the unique prefix. */
  private def sortedDistinct(out: Array[Long]): GenericArrayData = {
    java.util.Arrays.sort(out)
    var m = 0
    var i = 0
    while (i < out.length) {
      if (m == 0 || out(i) != out(m - 1)) { out(m) = out(i); m += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** Rolling Rabin-Karp hashes of every `w`-byte window (mixed), sorted
    * distinct — zero per-window allocations, one pass over the bytes.
    */
  def charWindowHashes(bytes: Array[Byte], w: Int): GenericArrayData = {
    if (bytes.length == 0) return new GenericArrayData(Array(0L))
    val win = math.min(w, bytes.length)
    val B = 257L
    var pow = 1L
    var i = 1
    while (i < win) { pow *= B; i += 1 }
    val out = new Array[Long](bytes.length - win + 1)
    var h = 0L
    i = 0
    while (i < win) { h = h * B + (bytes(i) & 0xff); i += 1 }
    out(0) = mix(h)
    i = win
    while (i < bytes.length) {
      h = (h - (bytes(i - win) & 0xff) * pow) * B + (bytes(i) & 0xff)
      out(i - win + 1) = mix(h)
      i += 1
    }
    sortedDistinct(out)
  }

  /** Window hashes over an array of element hashes (word shingles), sorted
    * distinct — replaces per-window `slice` allocations with a chained mix.
    */
  def wordWindowHashes(arr: ArrayData, w: Int): GenericArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array(0L))
    val win = math.min(w, n)
    val out = new Array[Long](n - win + 1)
    var i = 0
    while (i < out.length) {
      var h = 1L
      var k = 0
      while (k < win) { h = mix(h * Golden + arr.getLong(i + k)); k += 1 }
      out(i) = h
      i += 1
    }
    sortedDistinct(out)
  }

  /** |a ∩ b| of two sorted distinct long arrays — linear merge, no sets. */
  def sortedOverlap(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** Sorted distinct rolling char-`window`-gram hashes of a string. */
case class CharWindowHashes(child: Expression, window: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_char_shingles"

  override def nullSafeEval(input: Any): Any =
    ShingleUtil.charWindowHashes(input.asInstanceOf[UTF8String].getBytes, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val su = classOf[ShingleUtil.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $su.charWindowHashes($s.getBytes(), $window);"
    })

  override protected def withNewChildInternal(newChild: Expression): CharWindowHashes =
    copy(child = newChild)
}

/** Sorted distinct `window`-element shingle hashes over element hashes. */
case class WordWindowHashes(child: Expression, window: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_word_shingles"

  override def nullSafeEval(input: Any): Any =
    ShingleUtil.wordWindowHashes(input.asInstanceOf[ArrayData], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val su = classOf[ShingleUtil.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $su.wordWindowHashes($arr, $window);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordWindowHashes =
    copy(child = newChild)
}

/** Intersection size of two sorted distinct long arrays (linear merge). */
case class SortedOverlapCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_sorted_overlap"

  override def nullSafeEval(a: Any, b: Any): Any =
    ShingleUtil.sortedOverlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val su = classOf[ShingleUtil.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $su.sortedOverlap($a, $b);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedOverlapCount =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature: input = array<long> of element hashes (e.g.
  * `transform(shingles, s -> xxhash64(s))`), output = array<long> of
  * `numHashes` minima where hash_j(h) = mix(h + Golden * (j+1)).
  *
  * Single pass over the input (n*k updates, no intermediate arrays) —
  * the builtin-only formulation (`transform(sequence(...), j ->
  * array_min(transform(...)))`) allocates k arrays per row.
  */
case class MinHashSig(child: Expression, numHashes: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var j = 0
        while (j < numHashes) {
          val v = HashUtil.mix(h + HashUtil.Golden * (j + 1))
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val hu = classOf[HashUtil.type].getName.stripSuffix("$") + "$.MODULE$"
      s"""
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    long $h = $arr.getLong($i);
         |    for (int $j = 0; $j < $numHashes; $j++) {
         |      long $v = $hu.mix($h + ${HashUtil.Golden}L * ($j + 1));
         |      if ($v < $sig[$j]) $sig[$j] = $v;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** 64-bit SimHash over an array of element hashes: per input hash, each of
  * the 64 bit positions votes +1/-1; the sign of the tally is the output
  * bit. One pass, no allocation beyond the 64 counters.
  */
case class SimHash64(child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int[] $counts = new int[64];
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    long $h = $arr.getLong($i);
         |    for (int $b = 0; $b < 64; $b++) {
         |      if ((($h >>> $b) & 1L) == 1L) $counts[$b]++; else $counts[$b]--;
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) if ($counts[$b] > 0) $out |= (1L << $b);
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Cosine similarity of two float vectors, accumulated in double in index
  * order (bit-stable across runs/engines that do the same). Zero-norm
  * inputs yield 0.0.
  */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $x.getFloat($i);
         |  double $yi = (double) $y.getFloat($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0 : $dot / (Math.sqrt($nx) * Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Rademacher random-projection sign bits for hyperplane LSH: bit b of the
  * output is the sign of sum_d coef(b, d) * v[d] where coef is ±1 derived
  * from mix(seed, b, d). One pass over the vector per row.
  */
case class RandomProjectionBits(child: Expression, numBits: Int, seed: Long)
  extends UnaryExpression {
  require(numBits >= 1 && numBits <= 64, "numBits in [1, 64]")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_rp_bits"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val acc = new Array[Double](numBits)
    val n = v.numElements()
    var d = 0
    while (d < n) {
      val x = v.getFloat(d).toDouble
      var b = 0
      while (b < numBits) {
        val sign = if ((HashUtil.mix(seed + b * 0x100000001L + d) & 1L) == 1L) 1.0 else -1.0
        acc(b) += sign * x
        b += 1
      }
      d += 1
    }
    var out = 0L
    var b = 0
    while (b < numBits) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val b = ctx.freshName("b")
      val x = ctx.freshName("x")
      val out = ctx.freshName("out")
      val hu = classOf[HashUtil.type].getName.stripSuffix("$") + "$.MODULE$"
      s"""
         |double[] $acc = new double[$numBits];
         |for (int $d = 0; $d < $v.numElements(); $d++) {
         |  double $x = (double) $v.getFloat($d);
         |  for (int $b = 0; $b < $numBits; $b++) {
         |    $acc[$b] += ((($hu.mix(${seed}L + $b * 0x100000001L + $d)) & 1L) == 1L ? 1.0 : -1.0) * $x;
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < $numBits; $b++) if ($acc[$b] > 0) $out |= (1L << $b);
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RandomProjectionBits =
    copy(child = newChild)
}

/** Rolling-hash (Rabin-Karp) document fingerprint over the UTF-8 bytes. */
case class RabinFingerprint(child: Expression, window: Int)
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_fingerprint"

  override def nullSafeEval(input: Any): Any =
    HashUtil.rabinFingerprint(input.asInstanceOf[UTF8String].getBytes, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val hu = classOf[HashUtil.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $hu.rabinFingerprint($s.getBytes(), $window);"
    })

  override protected def withNewChildInternal(newChild: Expression): RabinFingerprint =
    copy(child = newChild)
}

/** Static kernel for [[NearestCells]] so generated code stays one call. */
object NearestCellsKernel {
  /** Ids of the `n` centroids with the largest dot product against `v`
    * (centroids are pre-normalized, so dot ranking == cosine ranking; the
    * query's own norm is a per-row constant and cancels). Ties break to
    * the lower cell id. Partial selection — O(k·dim + n·k), no alloc
    * beyond the k-sized scratch.
    */
  def compute(v: ArrayData, centroids: Array[Array[Float]], n: Int): ArrayData = {
    val k = centroids.length
    val dots = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cv = centroids(c)
      val d = math.min(v.numElements(), cv.length)
      var s = 0.0
      var i = 0
      while (i < d) { s += v.getFloat(i).toDouble * cv(i); i += 1 }
      dots(c) = s
      c += 1
    }
    val m = math.min(n, k)
    val out = new Array[Int](m)
    val taken = new Array[Boolean](k)
    var j = 0
    while (j < m) {
      var best = -1
      var bs = Double.NegativeInfinity
      var c2 = 0
      while (c2 < k) {
        if (!taken(c2) && dots(c2) > bs) { bs = dots(c2); best = c2 }
        c2 += 1
      }
      taken(best) = true
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** IVF coarse-quantizer probe: the `n` nearest centroid cell ids (by
  * cosine) for an array<float> vector. The centroid matrix is a plan
  * constant (the trained index artifact), shipped to executors once via
  * the codegen reference table — assignment is a pure map, no join and no
  * shuffle touches the corpus.
  */
case class NearestCells(child: Expression, centroids: Array[Array[Float]], n: Int)
  extends UnaryExpression {
  require(n >= 1, "n >= 1")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nearest_cells"

  override def nullSafeEval(input: Any): Any =
    NearestCellsKernel.compute(input.asInstanceOf[ArrayData], centroids, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cRef = ctx.addReferenceObj("centroids", centroids, "float[][]")
      val nk = classOf[NearestCellsKernel.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $nk.compute($v, $cRef, $n);"
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

/** Static kernel for [[PolyWordHashes]] so generated code stays one call. */
object PolyWordHashKernel {
  final val P1 = 2147483647L // 2^31 - 1
  final val P2 = 2147483629L

  /** Cross-engine-portable 62-bit word hash: two polynomial code-point
    * hashes mod 31-bit primes, packed as h2·2³² + h1. Every intermediate
    * stays below 2⁶³, so the identical arithmetic runs in DuckDB SQL
    * (whose BIGINT errors on overflow rather than wrapping) — which is the
    * whole point: a simhash built on these hashes can be recomputed
    * exactly by the oracle.
    */
  def hashWord(w: UTF8String, h1Init: Long, h2Init: Long): Long = {
    val s = w.toString
    var h1 = h1Init
    var h2 = h2Init
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i).toLong
      h1 = (h1 * 31L + cp) % P1
      h2 = (h2 * 131L + cp) % P2
      i += Character.charCount(cp.toInt)
    }
    h2 * 4294967296L + h1
  }

  def compute(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = if (words.isNullAt(i)) 0L
        else hashWord(words.getUTF8String(i), 7L, 11L)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Static kernel for [[HashedLinearScore]] so generated code stays one
  * call. The "model" is a hashed-feature linear classifier (the
  * fastText / CCNet quality-filter inference shape): token → portable
  * hash → one of 65536 weight buckets → integer weight in [-500, 500].
  * Weights are DERIVED (Knuth multiplicative hash of the bucket index),
  * not loaded — deterministic pseudo-random, so any engine reproduces
  * the exact score with no weight file to ship; a trained model drops
  * into [[weight]] without touching the plan shape. All arithmetic is
  * integer (sum of bounded weights — no float accumulation order
  * issues), which is what makes the score hash-checkable cross-engine.
  */
object LinearScoreKernel {
  final val Buckets = 65536L

  /** Integer weight of one feature bucket, in [-500, 500]. */
  def weight(bucket: Long): Long =
    ((bucket * 2654435761L) % 2147483647L) % 1001L - 500L

  def compute(words: ArrayData): Long = {
    var s = 0L
    var i = 0
    val n = words.numElements()
    while (i < n) {
      if (!words.isNullAt(i)) {
        val w = words.getUTF8String(i)
        if (w.numChars() > 0) {
          // bucket = h1 % 2^16 (the packed hash is h2·2³² + h1 and
          // 2³² ≡ 0 mod 2¹⁶, so the oracle only needs the h1 chain)
          val h = PolyWordHashKernel.hashWord(w, 7L, 11L)
          s += weight(h % Buckets)
        }
      }
      i += 1
    }
    s
  }
}

/** Static kernel for [[HashedBigramLogProb]] — the CCNet/KenLM
  * PERPLEXITY-filter inference shape (x21), distinct from x18's
  * classifier: a word-BIGRAM language model scores each document by the
  * sum of integer log-probabilities over adjacent word pairs. The LM
  * table is DERIVED (Knuth multiplicative hash of a 65536-bucket bigram
  * index → integer log-prob in [-1000, -1]), not loaded — deterministic
  * pseudo-random, so any engine replays the exact score with no model
  * file; a trained bigram table drops into [[logProb]] without touching
  * the plan. All arithmetic is integer and every intermediate stays
  * under 2⁶³, so the DuckDB oracle reproduces the bits with
  * `list_reduce`/list comprehensions. Empty tokens are skipped without
  * breaking adjacency (callers edge-trim the full whitespace class
  * before splitting, so they only arise from empty input).
  */
object BigramLogProbKernel {
  final val Buckets = 65536L

  /** Integer log-prob of one bigram bucket, in [-1000, -1]. */
  def logProb(bucket: Long): Long =
    ((bucket * 2654435761L) % 2147483647L) % 1000L - 1000L

  /** Bucket of a word-hash pair (each reduced mod 2¹⁶ first — the
    * packed 62-bit hash is h2·2³² + h1 and 2³² ≡ 0 mod 2¹⁶, so the
    * oracle only replays the h1 chain).
    */
  def bucket(ha: Long, hb: Long): Long =
    ((ha % Buckets) * 31L + (hb % Buckets)) % Buckets

  def compute(words: ArrayData): Long = {
    var sum = 0L
    var prev = -1L
    var i = 0
    val n = words.numElements()
    while (i < n) {
      if (!words.isNullAt(i)) {
        val w = words.getUTF8String(i)
        if (w.numChars() > 0) {
          val h = PolyWordHashKernel.hashWord(w, 7L, 11L)
          if (prev >= 0L) sum += logProb(bucket(prev, h))
          prev = h
        }
      }
      i += 1
    }
    sum
  }
}

/** Bigram-LM log-probability sum of an array<string> token column:
  * Σ logProb(bucket(hash(wᵢ), hash(wᵢ₊₁))) over adjacent non-empty
  * tokens, integer arithmetic end to end (see [[BigramLogProbKernel]]).
  */
case class HashedBigramLogProb(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_bigram_logprob"

  override def nullSafeEval(input: Any): Any =
    BigramLogProbKernel.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val bk = classOf[BigramLogProbKernel.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $bk.compute($arr);"
    })

  override protected def withNewChildInternal(newChild: Expression): HashedBigramLogProb =
    copy(child = newChild)
}

/** Hashed-feature linear-classifier score of an array<string> token
  * column: Σ weight(hash(token) % 65536) over non-empty tokens, integer
  * arithmetic end to end (see [[LinearScoreKernel]]).
  */
case class HashedLinearScore(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_linear_score"

  override def nullSafeEval(input: Any): Any =
    LinearScoreKernel.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val lk = classOf[LinearScoreKernel.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $lk.compute($arr);"
    })

  override protected def withNewChildInternal(newChild: Expression): HashedLinearScore =
    copy(child = newChild)
}

/** Per-word portable polynomial hashes of an array<string> column (see
  * [[PolyWordHashKernel.hashWord]]). Bits 31 and 63 of each hash are
  * always zero; a simhash over these hashes therefore carries 62 live
  * bits — the pigeonhole guarantee of 8×8-bit chunk blocking still holds.
  */
case class PolyWordHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_poly_word_hashes"

  override def nullSafeEval(input: Any): Any =
    PolyWordHashKernel.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val pk = classOf[PolyWordHashKernel.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $pk.compute($arr);"
    })

  override protected def withNewChildInternal(newChild: Expression): PolyWordHashes =
    copy(child = newChild)
}

/** Static kernel for [[HilbertIndex]] so generated code stays one call. */
object HilbertKernel {
  /** Hilbert-curve distance of an N-dimensional point whose coordinates
    * are `bits`-bit integers, via Skilling's transpose algorithm
    * ("Programming the Hilbert curve", AIP Conf. Proc. 707, 2004):
    * inverse-undo the rotations top bit down, Gray-encode, then
    * interleave the transposed axes MSB-first. Total index width is
    * n·bits ≤ 63.
    */
  def index(coordsIn: ArrayData, bits: Int): Long = {
    val n = coordsIn.numElements()
    val x = new Array[Long](n)
    var i = 0
    while (i < n) { x(i) = coordsIn.getLong(i); i += 1 }
    var q = 1L << (bits - 1)
    while (q > 1) {
      val p = q - 1
      i = 0
      while (i < n) {
        if ((x(i) & q) != 0L) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    q = 1L << (bits - 1)
    while (q > 1) { if ((x(n - 1) & q) != 0L) t ^= q - 1; q >>= 1 }
    i = 0
    while (i < n) { x(i) ^= t; i += 1 }
    var out = 0L
    var b = 0
    while (b < bits) {
      var k = 0
      while (k < n) {
        out |= ((x(k) >>> b) & 1L) << (b * n + (n - 1 - k))
        k += 1
      }
      b += 1
    }
    out
  }
}

/** Hilbert-curve index (long) of an array<long> of `bits`-bit coordinates
  * — the locality-preserving alternative to bit-interleaving (z-order):
  * consecutive curve positions are always adjacent cells, so multi-column
  * min/max ranges per file stay tighter at higher dimensionality.
  */
case class HilbertIndex(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 31, "bits in [1, 31]")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_hilbert_index"

  override def nullSafeEval(input: Any): Any =
    HilbertKernel.index(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val hk = classOf[HilbertKernel.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $hk.index($arr, $bits);"
    })

  override protected def withNewChildInternal(newChild: Expression): HilbertIndex =
    copy(child = newChild)
}

/** Static kernel for [[PortableFingerprint]]. */
object PortableFingerprintKernel {
  /** Min over all `w`-code-point windows of the packed two-prime
    * polynomial hash ([[PolyWordHashKernel.hashWord]] arithmetic) — a
    * Rabin-Karp-style document fingerprint whose every intermediate stays
    * below 2⁶³, so DuckDB SQL recomputes it exactly (the wrapping-multiply
    * fingerprint in [[RabinFingerprint]] cannot be expressed there).
    * Texts shorter than `w` hash as one whole-text window.
    */
  def fingerprint(s: UTF8String, w: Int): Long = {
    val str = s.toString
    val cps = str.codePoints().toArray
    val n = cps.length
    val eff = math.min(w, n)
    var best = Long.MaxValue
    var start = 0
    val last = math.max(0, n - eff)
    while (start <= last) {
      var h1 = 7L
      var h2 = 11L
      var i = 0
      while (i < eff) {
        val cp = cps(start + i).toLong
        h1 = (h1 * 31L + cp) % PolyWordHashKernel.P1
        h2 = (h2 * 131L + cp) % PolyWordHashKernel.P2
        i += 1
      }
      val h = h2 * 4294967296L + h1
      if (h < best) best = h
      start += 1
    }
    if (best == Long.MaxValue) 0L else best
  }
}

/** Cross-engine-portable rolling-window document fingerprint (long). */
case class PortableFingerprint(child: Expression, window: Int)
  extends UnaryExpression {
  require(window >= 1, "window >= 1")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_portable_fingerprint"

  override def nullSafeEval(input: Any): Any =
    PortableFingerprintKernel.fingerprint(input.asInstanceOf[UTF8String], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val pk = classOf[PortableFingerprintKernel.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $pk.fingerprint($s, $window);"
    })

  override protected def withNewChildInternal(newChild: Expression): PortableFingerprint =
    copy(child = newChild)
}

/** Static kernels for the product-quantization expressions. */
object PqKernel {
  /** Nearest codebook entry per subspace by L2 over the (pre-normalized)
    * vector: code[j] = argmin_c ||x_j − cb[j][c]||². O(m·ks·subDim).
    */
  def encode(v: ArrayData, cb: Array[Array[Array[Float]]]): ArrayData = {
    val m = cb.length
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val sub = cb(j)
      val subDim = sub(0).length
      val off = j * subDim
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < sub.length) {
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val diff = v.getFloat(off + i).toDouble - sub(c)(i)
          d += diff * diff
          i += 1
        }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Per-query ADC lookup table, flattened m×ks floats:
    * lut[j·ks + c] = dot(q_j, cb[j][c]).
    */
  def lut(q: ArrayData, cb: Array[Array[Array[Float]]]): ArrayData = {
    val m = cb.length
    val ks = cb(0).length
    val out = new Array[Float](m * ks)
    var j = 0
    while (j < m) {
      val sub = cb(j)
      val subDim = sub(0).length
      val off = j * subDim
      var c = 0
      while (c < ks) {
        var d = 0.0
        var i = 0
        while (i < subDim) { d += q.getFloat(off + i).toDouble * sub(c)(i); i += 1 }
        out(j * ks + c) = d.toFloat
        c += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Asymmetric distance: approx dot(q, x) = Σ_j lut[j·ks + code_j] —
    * O(m) per pair instead of O(dim).
    */
  def adc(code: ArrayData, lut: ArrayData, ks: Int): Double = {
    var s = 0.0
    var j = 0
    val m = code.numElements()
    while (j < m) { s += lut.getFloat(j * ks + code.getInt(j)); j += 1 }
    s
  }

  /** SQ8 encode: per-dimension affine quantization of a float vector to
    * one signed byte each (FAISS IndexScalarQuantizer QT_8bit shape):
    * code_i = round((x_i − min_i) / span_i · 255) − 128, clamped. 4×
    * compression at O(dim) encode; a zero span (constant dimension in
    * the training sample) encodes 0 and decodes back to min_i.
    */
  def sqEncode(v: ArrayData, mins: Array[Float], spans: Array[Float]): Array[Byte] = {
    val dim = mins.length
    val out = new Array[Byte](dim)
    var i = 0
    while (i < dim) {
      val span = spans(i)
      val t = if (span <= 0f) 0.0 else (v.getFloat(i) - mins(i)).toDouble / span
      val c = math.max(0, math.min(255, math.round(t * 255.0).toInt))
      out(i) = (c - 128).toByte
      i += 1
    }
    out
  }

  /** Asymmetric SQ score: dot(q, decode(code)) — the query stays float,
    * only the corpus is quantized (the FAISS asymmetric-distance default).
    */
  def sqScore(q: ArrayData, code: Array[Byte], mins: Array[Float],
      spans: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val dim = code.length
    while (i < dim) {
      val x = mins(i) + ((code(i) + 128) / 255.0) * spans(i)
      s += q.getFloat(i).toDouble * x
      i += 1
    }
    s
  }

  /** Dense orthogonal-rotation apply, y = R·x (row-major R): the OPQ
    * pre-step before encode/LUT. O(dim²) per vector, paid once per corpus
    * row at ENCODE time (the scan reads codes, never rotated vectors).
    */
  def rotate(v: ArrayData, r: Array[Array[Float]]): ArrayData = {
    val dim = r.length
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val row = r(i)
      var s = 0.0
      var j = 0
      while (j < dim) { s += row(j).toDouble * v.getFloat(j); j += 1 }
      out(i) = s.toFloat
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** OPQ rotation apply: array<float> = R·x, codegen'd (the rotation
  * matrix rides the plan as a constant reference, like PQ codebooks).
  */
case class RotateVec(child: Expression, rot: Array[Array[Float]])
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_rotate_vec"
  override def nullSafeEval(input: Any): Any =
    PqKernel.rotate(input.asInstanceOf[ArrayData], rot)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val rRef = ctx.addReferenceObj("rot", rot, "float[][]")
      val pk = classOf[PqKernel.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $pk.rotate($v, $rRef);"
    })
  override protected def withNewChildInternal(newChild: Expression): RotateVec =
    copy(child = newChild)
}

/** PQ encode: array<int> of per-subspace codebook indices. */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Float]]])
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_encode"
  override def nullSafeEval(input: Any): Any =
    PqKernel.encode(input.asInstanceOf[ArrayData], codebooks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cbRef = ctx.addReferenceObj("codebooks", codebooks, "float[][][]")
      val pk = classOf[PqKernel.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $pk.encode($v, $cbRef);"
    })
  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** PQ per-query ADC lookup table (flattened m×ks float array). */
case class PqLut(child: Expression, codebooks: Array[Array[Array[Float]]])
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_lut"
  override def nullSafeEval(input: Any): Any =
    PqKernel.lut(input.asInstanceOf[ArrayData], codebooks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cbRef = ctx.addReferenceObj("codebooks", codebooks, "float[][][]")
      val pk = classOf[PqKernel.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $pk.lut($v, $cbRef);"
    })
  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

/** PQ asymmetric-distance score: Σ_j lut[j·ks + code_j] (double). */
case class PqAdcScore(left: Expression, right: Expression, ks: Int)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_adc"
  override def nullSafeEval(code: Any, lut: Any): Any =
    PqKernel.adc(code.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData], ks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) => {
      val pk = classOf[PqKernel.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $pk.adc($c, $l, $ks);"
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)
}

/** SQ8 encode: binary (one signed byte per dimension, 4× compression). */
case class SqEncode(child: Expression, mins: Array[Float], spans: Array[Float])
  extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_sq_encode"
  override def nullSafeEval(input: Any): Any =
    PqKernel.sqEncode(input.asInstanceOf[ArrayData], mins, spans)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val mRef = ctx.addReferenceObj("mins", mins, "float[]")
      val sRef = ctx.addReferenceObj("spans", spans, "float[]")
      val pk = classOf[PqKernel.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $pk.sqEncode($v, $mRef, $sRef);"
    })
  override protected def withNewChildInternal(newChild: Expression): SqEncode =
    copy(child = newChild)
}

/** SQ asymmetric score: dot(float query, decoded byte code) (double). */
case class SqScore(left: Expression, right: Expression,
    mins: Array[Float], spans: Array[Float]) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_sq_score"
  override def nullSafeEval(q: Any, code: Any): Any =
    PqKernel.sqScore(q.asInstanceOf[ArrayData], code.asInstanceOf[Array[Byte]],
      mins, spans)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, c) => {
      val mRef = ctx.addReferenceObj("mins", mins, "float[]")
      val sRef = ctx.addReferenceObj("spans", spans, "float[]")
      val pk = classOf[PqKernel.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $pk.sqScore($q, $c, $mRef, $sRef);"
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SqScore =
    copy(left = newLeft, right = newRight)
}

/** Unicode NFC normalization kernel. Public static so generated code can
  * call it. Fast path: already-normalized text (all ASCII in practice)
  * pays one isNormalized scan and keeps the original UTF8String — no
  * String round-trip on the hot path of an ASCII-heavy corpus.
  */
object NormalizeUtil {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Unicode NFC canonical composition (x16; the fix-text step web-scale
  * pipelines run before fingerprinting — decomposed "e"+U+0301 and
  * composed U+00E9 must hash identically or near-dup detection silently
  * misses). Codegen'd; DuckDB's `nfc_normalize` is the oracle.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nfc"
  override def nullSafeEval(input: Any): Any =
    NormalizeUtil.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val nu = classOf[NormalizeUtil.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $nu.nfc($s);"
    })
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Hadoop-canonical path rendering, shared between the import
  * translation (scala-side) and the position-delete normalization
  * expression so both produce byte-identical strings.
  */
object PathCanonUtil {
  def canonString(p: String): String =
    if (p.contains(":/")) new org.apache.hadoop.fs.Path(p).toString
    else new org.apache.hadoop.fs.Path("file:" + p).toString

  def canon(s: UTF8String): UTF8String = {
    val p = s.toString
    val out = canonString(p)
    if (out == p) s else UTF8String.fromString(out)
  }
}

/** Spark-canonical file path ("file:/abs/path" for local) — used when
  * importing foreign position-delete files, whose stored `file_path`
  * must compare equal to `_metadata.file_path` in the merge-on-read
  * join. A Catalyst expression (not a udf): stays inside whole-stage
  * codegen and keeps src/main udf-free; it runs at metadata scale
  * (delete-file rows) regardless.
  */
case class CanonicalPath(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_canon_path"
  override def nullSafeEval(input: Any): Any =
    PathCanonUtil.canon(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val pu = classOf[PathCanonUtil.type].getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $pu.canon($s);"
    })
  override protected def withNewChildInternal(newChild: Expression): CanonicalPath =
    copy(child = newChild)
}

/** A per-plan long constant that generated code reads from the
  * `references` array instead of inlining (SnappyData's tokenized
  * literal). Spark writes a long `Literal` into the Java source, so plans
  * that differ only in such a value — the changelog's per-commit
  * `_change_ordinal` and `_commit_snapshot_id` — compile to distinct
  * classes; this one compiles once per plan shape. Deterministic and NOT
  * foldable, so the optimizer cannot turn it back into a literal; for the
  * same reason it is for constants graft adds itself, never for user
  * predicates, whose literals parquet pushdown and file pruning need.
  */
case class BoundLong(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bound_long"
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("boundLong", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}
