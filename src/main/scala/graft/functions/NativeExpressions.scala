package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the hot per-row kernels (SURVEY.md §7.3:
  * "custom native Expression for hot scalar ops").
  *
  * The generic higher-order-function route (`transform`/`aggregate` with
  * lambdas) evaluates interpreted with per-element dispatch — benchmarked
  * 10-100× slower than a tight primitive loop for these kernels. Each
  * expression here is row-local (no state, no shuffle) and deterministic,
  * so it composes freely with pushdown and AQE. CodegenFallback is fine:
  * the loop body is plain JVM code the JIT compiles; codegen would only
  * save the per-ROW boxing, not the per-ELEMENT work.
  */
object NativeExpressions {

  /** 64-bit SimHash from an array of shingle hashes: per-bit ±1 votes in
    * one pass. Replaces an explode(×64 bits)+double-shuffle formulation —
    * per-document SimHash is embarrassingly row-local. */
  case class SimHash64(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any = {
      val hashes = input.asInstanceOf[ArrayData]
      val votes = new Array[Int](64)
      var i = 0
      val n = hashes.numElements()
      while (i < n) {
        val h = hashes.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        i += 1
      }
      var sim = 0L
      var b = 0
      while (b < 64) {
        if (votes(b) > 0) sim |= (1L << b)
        b += 1
      }
      sim
    }
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  }

  /** Unicode text FOLDING for canonicalization before hashing/dedup (the
    * CCNet-style normalize step): NFC-compose, strip combining diacritics
    * (NFD → drop NON_SPACING_MARK → NFC), then ROOT-locale lowercase. The
    * DuckDB twin is `lower(strip_accents(nfc_normalize(x)))` — verified
    * equal on the Latin diacritic range the oracle exercises. Idempotent.
    * Row-local, no UDF serialization, safe inside any pushdown. */
  case class NormalizeFold(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullSafeEval(input: Any): Any = {
      import java.text.Normalizer
      val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
      val nfd = Normalizer.normalize(
        Normalizer.normalize(s, Normalizer.Form.NFC), Normalizer.Form.NFD)
      val sb = new java.lang.StringBuilder(nfd.length)
      var i = 0
      while (i < nfd.length) {
        val c = nfd.charAt(i)
        if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
        i += 1
      }
      val folded = Normalizer.normalize(sb.toString, Normalizer.Form.NFC)
        .toLowerCase(java.util.Locale.ROOT)
      org.apache.spark.unsafe.types.UTF8String.fromString(folded)
    }
    override protected def withNewChildInternal(c: Expression): NormalizeFold = copy(c)
  }

  /** Multi-table sign-random-projection signatures for an array<float>
    * vector: returns array<long> of `tables` packed signatures (bit p of
    * table t set iff the projection onto plane (t,p) is positive).
    *
    * Plane components are Rademacher ±1 values derived from the parity of
    * the first hex nibble of md5("t:p:d") — sign projections with ±1
    * entries are a standard LSH family (Achlioptas' database-friendly
    * random projections), and the hash-derived construction makes every
    * signature bit reproducible by ANY engine with md5: the vector is
    * quantized to floor(x*1000) BIGINTs (the same convention as
    * QuantizedCosine), so each projection is exact integer arithmetic —
    * no FP-summation-order hazard can flip a sign near zero. The DuckDB
    * oracle recomputes the full signature in SQL (SimilarityQueries).
    * Signs materialize once per executor — no stored model. */
  case class RademacherSigs(child: Expression, tables: Int, planes: Int, dim: Int)
      extends UnaryExpression with CodegenFallback {
    require(planes <= 62)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    @transient private lazy val signs: Array[Array[Long]] =
      Array.tabulate(tables * planes) { idx =>
        Array.tabulate(dim)(d => rademacherSign(idx / planes, idx % planes, d).toLong)
      }

    override def nullSafeEval(input: Any): Any = {
      val vec = input.asInstanceOf[ArrayData]
      val n = math.min(vec.numElements(), dim)
      val q = new Array[Long](n)
      var i = 0
      while (i < n) {
        q(i) = math.floor(vec.getFloat(i).toDouble * 1000).toLong
        i += 1
      }
      val sigs = new Array[Long](tables)
      var t = 0
      while (t < tables) {
        var sig = 0L
        var p = 0
        while (p < planes) {
          val s = signs(t * planes + p)
          var dot = 0L
          i = 0
          while (i < n) {
            dot += q(i) * s(i)
            i += 1
          }
          if (dot > 0) sig |= (1L << p)
          p += 1
        }
        sigs(t) = sig
        t += 1
      }
      new GenericArrayData(sigs)
    }
    override protected def withNewChildInternal(c: Expression): RademacherSigs = copy(child = c)
  }

  /** Distinct word n-gram shingles in one pass (split, slide, dedupe) —
    * the interpreted CASE+transform+slice+split form re-split the text
    * per shingle. Documents shorter than n collapse to one whole-text
    * shingle, matching ops.Dedup.wordShingles semantics exactly. */
  case class WordShingles(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val text = input.toString
      val words = text.split(" ", -1)
      if (words.length < n) {
        new GenericArrayData(Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(text)))
      } else {
        val seen = new java.util.LinkedHashSet[String]()
        var i = 0
        val last = words.length - n
        val sb = new java.lang.StringBuilder()
        while (i <= last) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(words(i + j))
            j += 1
          }
          seen.add(sb.toString)
          i += 1
        }
        val out = new Array[Any](seen.size)
        val it = seen.iterator()
        var k = 0
        while (it.hasNext) {
          out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
          k += 1
        }
        new GenericArrayData(out)
      }
    }
    override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
  }

  /** Every length-3 CHARACTER substring in ONE byte walk — the O(len)
    * kernel behind ops/LangId. The declarative form
    * `transform(sequence(1, length-2), i -> substring(text, i, 3))`
    * re-scans the string from byte 0 for every trigram (UTF8String is
    * char-indexed over variable-width bytes, so each substring call is
    * O(len)) — O(len²) per document, and the round-12 full-registry
    * probe measured q84 at 79.5× for a 50× corpus, the suite's only
    * super-linear curve. Here: one pass records every char's byte
    * offset, then each trigram is a byte-range slice. Char semantics
    * identical to `substring(text, i, 3)` (and DuckDB's), so the oracle
    * is untouched; <3-char inputs yield the empty array (explode drops
    * the row — the no-evidence stance of the declarative form). */
  case class CharTrigrams(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val n = s.numChars()
      if (n < 3) new GenericArrayData(Array.empty[Any])
      else {
        val bytes = s.getBytes
        val starts = new Array[Int](n + 1)
        var b = 0
        var c = 0
        while (c < n) {
          starts(c) = b
          b += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(bytes(b))
          c += 1
        }
        starts(n) = bytes.length
        val out = new Array[Any](n - 2)
        var i = 0
        while (i < n - 2) {
          out(i) = org.apache.spark.unsafe.types.UTF8String
            .fromBytes(bytes, starts(i), starts(i + 3) - starts(i))
          i += 1
        }
        new GenericArrayData(out)
      }
    }
    override protected def withNewChildInternal(c: Expression): CharTrigrams =
      copy(child = c)
  }

  /** Quantized cosine: floor(x*1000) int vectors, exact integer dot and
    * norms, one double division — bit-identical to the SQL/DuckDB
    * formulation (floor, i64 mults/sums, IEEE sqrt/div) but in one
    * primitive pass instead of three interpreted aggregates. */
  case class QuantizedCosine(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val va = a.asInstanceOf[ArrayData]
      val vb = b.asInstanceOf[ArrayData]
      val n = math.min(va.numElements(), vb.numElements())
      var dot = 0L; var na = 0L; var nb = 0L
      var i = 0
      while (i < n) {
        val x = math.floor(va.getFloat(i).toDouble * 1000).toLong
        val y = math.floor(vb.getFloat(i).toDouble * 1000).toLong
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): QuantizedCosine =
      copy(left = l, right = r)
  }

  /** Cosine over two ALREADY-quantized long vectors (IVF sum-centroids,
    * pre-quantized indexes): exact integer dot and norms, one double
    * division — the long-array sibling of QuantizedCosine (which quantizes
    * float inputs itself). Zero-norm inputs yield NaN, which both Spark
    * and DuckDB order as the LARGEST double — consistent tiebreak either
    * way. */
  case class LongCosine(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val va = a.asInstanceOf[ArrayData]
      val vb = b.asInstanceOf[ArrayData]
      val n = math.min(va.numElements(), vb.numElements())
      var dot = 0L; var na = 0L; var nb = 0L
      var i = 0
      while (i < n) {
        val x = va.getLong(i)
        val y = vb.getLong(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): LongCosine =
      copy(left = l, right = r)
  }

  /** ALL prefix-truncation cosines of two quantized long vectors in ONE
    * pass — the Matryoshka-retrieval kernel (q209): running integer
    * partials (dot, |a|², |b|²) snapshot a cosine at each cut point, so
    * four truncation widths cost one traversal of the longest prefix
    * instead of Σ cuts (8+16+32+64 = 120 element-multiplies → 64).
    * Each emitted cosine is BIT-IDENTICAL to `LongCosine(slice(a, 1, cut),
    * slice(b, 1, cut))`: the partial sums at element `cut` are the same
    * exact longs a sliced evaluation would accumulate, and the final
    * divide is the same double expression. Cuts must be ascending and
    * within both arrays (a cut past the shorter array snapshots at its
    * end — same min-length contract as LongCosine). */
  case class PrefixLongCosines(left: Expression, right: Expression, cuts: Seq[Int])
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
    require(cuts.nonEmpty && cuts == cuts.sorted && cuts.forall(_ >= 1),
      s"ascending positive cut points expected, got $cuts")
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(a: Any, b: Any): Any = {
      val va = a.asInstanceOf[ArrayData]
      val vb = b.asInstanceOf[ArrayData]
      val n = math.min(va.numElements(), vb.numElements())
      val out = new Array[Double](cuts.size)
      var dot = 0L; var na = 0L; var nb = 0L
      var i = 0; var c = 0
      while (c < cuts.size) {
        val cut = math.min(cuts(c), n)
        while (i < cut) {
          val x = va.getLong(i)
          val y = vb.getLong(i)
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        out(c) = dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
        c += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PrefixLongCosines =
      copy(left = l, right = r)
  }

  /** Cosine similarity of two float arrays in one primitive pass —
    * replaces the triple interpreted `aggregate(zip_with(...))` in
    * verification-heavy paths. */
  case class CosineSimFloat(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val va = a.asInstanceOf[ArrayData]
      val vb = b.asInstanceOf[ArrayData]
      val n = math.min(va.numElements(), vb.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = va.getFloat(i).toDouble
        val y = vb.getFloat(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0) 0.0 else dot / denom
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimFloat =
      copy(left = l, right = r)
  }

  /** The portable 60-bit md5 hash — `CAST(CONV(SUBSTRING(md5(x), 1, 15),
    * 16, 10) AS BIGINT)` — computed straight from the digest bytes:
    * bytes 0-6 plus the high nibble of byte 7 are exactly hex chars
    * [1,15]. The expression form built the 32-char hex STRING, took a
    * substring, and ran Spark's Conv (per-row radix conversion over
    * digit chars) — measured ~12 µs/row in the q48 sketch stage, ~30×
    * the digest itself. Same ThreadLocal digest reuse as
    * PortableMinHashSigs; input arrives already cast to BINARY by the
    * wrapper, so string and binary callers hash identical bytes. */
  case class Hash60(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any = {
      val d = md5Digest.get().digest(input.asInstanceOf[Array[Byte]])
      var h = 0L
      var j = 0
      while (j < 7) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
      (h << 4) | ((d(7) >> 4) & 0xfL)
    }
    override protected def withNewChildInternal(c: Expression): Hash60 =
      copy(child = c)
  }

  /** Squared-L2 distance between two BIGINT arrays in one primitive
    * pass: Σ (a_i − b_i)². Replaces the interpreted
    * `aggregate(zip_with(sv, cv, (x,y) -> (x−y)·(x−y)))` in the PQ
    * encode hot path, which evaluated lambda expression trees per
    * element per candidate code (m·ksub evaluations per document).
    * Exact integer arithmetic, identical to the SQL form wherever the
    * BIGINT sum doesn't overflow (quantized inputs keep every term far
    * below 2^63). */
  case class SqDiffSumLong(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val va = a.asInstanceOf[ArrayData]
      val vb = b.asInstanceOf[ArrayData]
      val n = math.min(va.numElements(), vb.numElements())
      var s = 0L
      var i = 0
      while (i < n) {
        val d = va.getLong(i) - vb.getLong(i)
        s += d * d
        i += 1
      }
      s
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDiffSumLong =
      copy(left = l, right = r)
  }

  /** Count of positions where two BIGINT arrays agree — the MinHash
    * signature-agreement verifier. One primitive loop per candidate pair;
    * the expression form `size(filter(zip_with(a, b, (x, y) -> x = y),
    * v -> v))` built two intermediate arrays and evaluated the lambdas
    * interpreted, per candidate, in the incremental-dedup verify stage's
    * hot path. Exact same value: min-length prefix compared pairwise
    * (signatures here always share length k). Both inputs must be
    * ARRAY<BIGINT>, checked at analysis: the loop reads raw longs, so an
    * ARRAY<INT> would otherwise fail at run time or read garbage. */
  case class SigAgreeCount(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes with CodegenFallback {
    override def inputTypes: Seq[ArrayType] = Seq(ArrayType(LongType), ArrayType(LongType))
    override def dataType: DataType = IntegerType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val va = a.asInstanceOf[ArrayData]
      val vb = b.asInstanceOf[ArrayData]
      val n = math.min(va.numElements(), vb.numElements())
      var c = 0
      var i = 0
      while (i < n) {
        if (va.getLong(i) == vb.getLong(i)) c += 1
        i += 1
      }
      c
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SigAgreeCount =
      copy(left = l, right = r)
  }

  /** K-permutation MinHash signature in ONE row-local pass, replicating
    * Dedup.portableBase bit-for-bit: per shingle, h1 = md5 hex chars
    * [1,15] (60 bits), h2 = hex chars [16,30] masked to 57 bits;
    * permutation p is h1 + p·h2 (Kirsch-Mitzenmacher double hashing, sum
    * provably < 2^63 for p ≤ 56); signature = per-permutation minimum.
    *
    * Replaces explode(shingles) + k min-aggregates + groupBy(id): same
    * md5 count but no per-row UnsafeRow traffic, no aggregation hash
    * table, and NO shuffle — the signature never leaves its input row.
    * The DuckDB oracle remains the SQL double-hash formulation; a spec
    * cross-checks this kernel against the in-Spark SQL path. An EMPTY
    * shingle array yields null (not a constant all-MaxValue signature,
    * which would bucket every empty doc together — the exact degenerate
    * collision the operator library guards against); WordShingles always
    * emits ≥1 shingle, so null only surfaces for foreign inputs via the
    * graft_minhash_sigs SQL function. */
  case class PortableMinHashSigs(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    require(k >= 1 && k <= 57,
      s"k=$k permutations overflow the masked double-hash family (max 57)")
    private val Mask57 = (1L << 57) - 1
    override def nullable: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val shingles = input.asInstanceOf[ArrayData]
      val n = shingles.numElements()
      if (n == 0) return null
      val mins = Array.fill(k)(Long.MaxValue)
      val md = md5Digest.get()
      var i = 0
      while (i < n) {
        val d = md.digest(shingles.getUTF8String(i).getBytes)
        // hex chars [1,15] = bytes 0-6 + high nibble of byte 7
        var h1 = 0L
        var j = 0
        while (j < 7) { h1 = (h1 << 8) | (d(j) & 0xffL); j += 1 }
        h1 = (h1 << 4) | ((d(7) >> 4) & 0xfL)
        // hex chars [16,30] = low nibble of byte 7 + bytes 8-14
        var h2 = d(7) & 0xfL
        j = 8
        while (j < 15) { h2 = (h2 << 8) | (d(j) & 0xffL); j += 1 }
        h2 &= Mask57
        var p = 0
        while (p < k) {
          val v = h1 + p * h2
          if (v < mins(p)) mins(p) = v
          p += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
    override protected def withNewChildInternal(c: Expression): PortableMinHashSigs =
      copy(child = c)
  }

  /** Word-level repetition statistics for training-data quality filtering
    * (the Gopher-style repetition signals, word-granular because the
    * corpus is single-line): one hash-map pass per document computing
    * word/bigram totals, distincts, and the modal bigram count. Row-local
    * and linear — the all-builtin formulation needs either an
    * explode+groupBy+join-back (an extra shuffle of every word) or a
    * quadratic per-row `filter(bgs, x -> x = b)` scan. Returns
    * struct<n_words, n_distinct_words, n_bigrams, n_distinct_bigrams,
    * top_bigram_n> (all BIGINT; zeros for sub-bigram docs). */
  case class RepetitionStats(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("n_words", LongType, nullable = false),
      StructField("n_distinct_words", LongType, nullable = false),
      StructField("n_bigrams", LongType, nullable = false),
      StructField("n_distinct_bigrams", LongType, nullable = false),
      StructField("top_bigram_n", LongType, nullable = false)))

    override def nullSafeEval(input: Any): Any = {
      val words = input.toString.split(" ", -1)
      val distinctWords = new java.util.HashSet[String]()
      var i = 0
      while (i < words.length) { distinctWords.add(words(i)); i += 1 }
      val bigramCounts = new java.util.HashMap[String, Int]()
      var top = 0
      i = 0
      while (i < words.length - 1) {
        val bg = words(i) + " " + words(i + 1)
        val c = bigramCounts.merge(bg, 1, (a, b) => a + b)
        if (c > top) top = c
        i += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(
        words.length.toLong, distinctWords.size.toLong,
        math.max(words.length - 1, 0).toLong, bigramCounts.size.toLong,
        top.toLong)
    }
    override protected def withNewChildInternal(c: Expression): RepetitionStats = copy(c)
  }

  /** One-pass PCM-16 sample statistics (Σ|s|, max|s|) over the data
    * section of a VALIDATED RIFF/WAVE clip (bytes from offset 44,
    * little-endian signed 16-bit). The expression-tree form folds an
    * interpreted higher-order lambda with two conv(hex(substring)))
    * calls per sample — this kernel is one tight primitive loop over the
    * byte array (~15× less per-sample work at sf0.1). Callers gate on
    * the columnar header validation first (AudioWav.parsed); the kernel
    * itself only assumes length ≥ 44. */
  case class WavSampleStats(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("sum_abs", LongType, nullable = false),
      StructField("peak_abs", LongType, nullable = false)))

    override def nullSafeEval(input: Any): Any = {
      val b = input.asInstanceOf[Array[Byte]]
      var sum = 0L
      var peak = 0L
      var i = 44
      while (i + 1 < b.length) {
        val v = ((b(i) & 0xFF) | (b(i + 1) << 8)).toShort.toInt
        val a = math.abs(v).toLong
        sum += a
        if (a > peak) peak = a
        i += 2
      }
      org.apache.spark.sql.catalyst.InternalRow(sum, peak)
    }
    override protected def withNewChildInternal(c: Expression): WavSampleStats = copy(c)
  }

  /** One-pass winnowing fingerprint statistics (Schleimer/Wilkerson/Aiken,
    * SIGMOD 2003 — the MOSS document-fingerprinting scheme): hash every
    * character k-gram, slide a w-gram window, select the window minimum
    * (rightmost on ties — the winnowing guarantee needs a deterministic
    * tie rule and rightmost keeps selections maximally stable as the
    * window slides). Reference surface: the hash/dedup producer family
    * (reference pipeline/src/main/kotlin/participants/implementations.kt:44-66
    * computes one whole-document digest; winnowing is its position-robust
    * generalization — any shared substring of length ≥ k+w-1 guarantees a
    * shared fingerprint, which whole-document digests cannot do).
    *
    * Hashes are the portable md5 family (first 10 hex chars = 40 bits,
    * nonnegative) so a SQL oracle replays every selection bit-exactly via
    * the `h*64 + (s+w-1-pos)` integer argmin-with-rightmost-tiebreak key
    * (40-bit h keeps the composite key < 2^46, BIGINT-safe in both
    * engines). Returns struct<n_windows, n_selected, n_distinct_fp,
    * fp_checksum> — n_selected pins WHICH grams were selected (distinct
    * selected positions), fp_checksum (sum of distinct selected hashes,
    * ≤ doc-length 40-bit values: no overflow) pins the fingerprint SET
    * without shipping it. Row-local, zero-shuffle: the 100 TB shape is a
    * map-only pass; only the final per-doc row moves.
    *
    * Short-document contract: fewer than w grams but ≥ 1 → ONE window
    * over all grams (coverage guarantee); fewer than k chars → all-zero
    * row. Character semantics match SQL `substring` (the corpus is ASCII;
    * both engines hash the UTF-8 bytes of the char window). */
  case class WinnowStats(child: Expression, k: Int, w: Int)
      extends UnaryExpression with CodegenFallback {
    require(k >= 1 && w >= 2 && w <= 64, s"need k>=1, 2<=w<=64 (got k=$k w=$w)")
    override def dataType: DataType = StructType(Seq(
      StructField("n_windows", LongType, nullable = false),
      StructField("n_selected", LongType, nullable = false),
      StructField("n_distinct_fp", LongType, nullable = false),
      StructField("fp_checksum", LongType, nullable = false)))

    override def nullSafeEval(input: Any): Any = {
      val text = input.toString
      val sel = WinnowKernel.selectedHashes(text, k, w)
      if (sel == null) return org.apache.spark.sql.catalyst.InternalRow(0L, 0L, 0L, 0L)
      val nGrams = text.length - k + 1
      val nWindows = if (nGrams >= w) nGrams - w + 1 else 1
      val fps = new java.util.HashSet[java.lang.Long]()
      var sum = 0L
      var i = 0
      while (i < sel.length) {
        if (fps.add(sel(i))) sum += sel(i)
        i += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(
        nWindows.toLong, sel.length.toLong, fps.size.toLong, sum)
    }
    override protected def withNewChildInternal(c: Expression): WinnowStats = copy(child = c)
  }

  /** Shared winnowing selection (used by [[WinnowStats]] and
    * [[WinnowFingerprints]] so the two forms cannot drift): hashes every
    * char k-gram (portable md5-40), slides the w-window, selects the
    * minimum (rightmost ties). */
  private[functions] object WinnowKernel {
    /** Selected positions' hashes in position order, or null for texts
      * shorter than k. */
    def selectedHashes(text: String, k: Int, w: Int): Array[Long] = {
      val nGrams = text.length - k + 1
      if (nGrams <= 0) return null
      val md = md5Digest.get()
      val hs = new Array[Long](nGrams)
      var i = 0
      while (i < nGrams) {
        val d = md.digest(text.substring(i, i + k)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 10 hex chars = bytes 0-4: a 40-bit nonnegative fingerprint
        var h = 0L
        var j = 0
        while (j < 5) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
        hs(i) = h
        i += 1
      }
      val nWindows = if (nGrams >= w) nGrams - w + 1 else 1
      val selected = new Array[Boolean](nGrams)
      var s = 0
      while (s < nWindows) {
        val end = math.min(s + w, nGrams)
        var bestP = s
        var p = s + 1
        while (p < end) {
          if (hs(p) <= hs(bestP)) bestP = p // <= : rightmost wins ties
          p += 1
        }
        selected(bestP) = true
        s += 1
      }
      val out = new Array[Long](selected.count(identity))
      var o = 0
      i = 0
      while (i < nGrams) {
        if (selected(i)) { out(o) = hs(i); o += 1 }
        i += 1
      }
      out
    }

    /** Distinct selected fingerprints, ascending. */
    def selectFingerprints(text: String, k: Int, w: Int): Array[Long] = {
      val sel = selectedHashes(text, k, w)
      if (sel == null) return Array.emptyLongArray
      val distinct = sel.distinct
      java.util.Arrays.sort(distinct)
      distinct
    }
  }

  /** The SET form of [[WinnowStats]]: the distinct selected fingerprints
    * themselves, ascending (array<long>), for cross-document joins —
    * df censuses, shared-fingerprint candidate pairs, plagiarism-style
    * span lookups. Same selection algorithm bit-for-bit (the shared
    * kernel), so the q111 oracle's argmin-key replay covers this form
    * too. */
  case class WinnowFingerprints(child: Expression, k: Int, w: Int)
      extends UnaryExpression with CodegenFallback {
    require(k >= 1 && w >= 2 && w <= 64, s"need k>=1, 2<=w<=64 (got k=$k w=$w)")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val fps = WinnowKernel.selectFingerprints(input.toString, k, w)
      new GenericArrayData(fps)
    }
    override protected def withNewChildInternal(c: Expression): WinnowFingerprints =
      copy(child = c)
  }

  /** Term-bag frequencies in ONE tokenization pass: array<long> of exact
    * whitespace-token match counts, one slot per query term. The
    * expression-tree alternative (`size(filter(split(text,' '), x -> x =
    * term))` per term) re-evaluates an interpreted lambda chain per term
    * per row — O(terms · tokens) with per-element dispatch; this kernel
    * tokenizes once and counts via a ≤64-entry hash map, O(tokens).
    * Used by the BM25/RRF lexical path; results are bit-identical to the
    * filter form (exact string equality on space-split tokens), so the
    * q45/q114 oracles are untouched. */
  case class TermCounts(child: Expression, terms: Seq[String])
      extends UnaryExpression with CodegenFallback {
    require(terms.nonEmpty && terms.size <= 64, "bag-of-terms query expected")
    @transient private lazy val slot: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      terms.zipWithIndex.foreach { case (t, i) => m.put(t, i) }
      m
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val text = input.toString
      val counts = new Array[Long](terms.size)
      var start = 0
      var i = 0
      val n = text.length
      while (i <= n) {
        if (i == n || text.charAt(i) == ' ') {
          val s = slot.get(text.substring(start, i))
          if (s != null) counts(s.intValue()) += 1
          start = i + 1
        }
        i += 1
      }
      new GenericArrayData(counts)
    }
    override protected def withNewChildInternal(c: Expression): TermCounts =
      copy(child = c)
  }

  /** One-pass audio QUALITY-CONTROL statistics over a RIFF/WAVE clip's
    * PCM-16 section (bytes from offset 44, little-endian signed): the
    * corpus-hygiene signals a speech/audio training pipeline gates on —
    * clipping (|s| ≥ clipAbs: recorder saturation), dead air (the longest
    * run of |s| < silenceAbs), and total energy (Σ|s|², exact — |s| ≤
    * 2^15 so a clip needs > 2^33 samples to overflow). Same contract as
    * [[WavSampleStats]]: callers gate on the columnar header validation;
    * the kernel only assumes length ≥ 44. The SQL oracle replays the
    * longest-run via the gaps-and-islands window construction. */
  case class WavQcStats(child: Expression, clipAbs: Int, silenceAbs: Int)
      extends UnaryExpression with CodegenFallback {
    require(clipAbs > silenceAbs && silenceAbs > 0)
    override def dataType: DataType = StructType(Seq(
      StructField("n_samples", LongType, nullable = false),
      StructField("n_clipped", LongType, nullable = false),
      StructField("longest_silence", LongType, nullable = false),
      StructField("energy", LongType, nullable = false)))

    override def nullSafeEval(input: Any): Any = {
      val b = input.asInstanceOf[Array[Byte]]
      var n = 0L
      var clipped = 0L
      var longest = 0L
      var run = 0L
      var energy = 0L
      var i = 44
      while (i + 1 < b.length) {
        val v = ((b(i) & 0xFF) | (b(i + 1) << 8)).toShort.toInt
        val a = math.abs(v).toLong
        n += 1
        if (a >= clipAbs) clipped += 1
        if (a < silenceAbs) {
          run += 1
          if (run > longest) longest = run
        } else run = 0
        energy += a * a
        i += 2
      }
      org.apache.spark.sql.catalyst.InternalRow(n, clipped, longest, energy)
    }
    override protected def withNewChildInternal(c: Expression): WavQcStats =
      copy(child = c)
  }

  /** All-occurrences multi-pattern scan statistics over an Aho–Corasick
    * automaton (see [[graft.functions.AhoCorasick]]): struct<n_hits,
    * n_patterns_hit, hit_checksum>. The pattern list rides in the
    * expression (a driver-collected blocklist, the q88 broadcast-literal
    * move); the automaton builds lazily once per JVM and is shared across
    * task threads. O(n + matches) per document vs the O(n·Σ|p|)
    * per-pattern `contains` tree — the shape that keeps a thousands-entry
    * blocklist scan map-only at 100 TB. */
  case class MultiPatternStats(child: Expression, patterns: Seq[String])
      extends UnaryExpression with CodegenFallback {
    require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
      "need at least one nonempty pattern")
    @transient private lazy val ac = new AhoCorasick(patterns.toArray)
    override def dataType: DataType = StructType(Seq(
      StructField("n_hits", LongType, nullable = false),
      StructField("n_patterns_hit", LongType, nullable = false),
      StructField("hit_checksum", LongType, nullable = false)))

    override def nullSafeEval(input: Any): Any = {
      val (hits, nSeen, checksum) = ac.scanStats(input.toString)
      org.apache.spark.sql.catalyst.InternalRow(hits, nSeen, checksum)
    }
    override protected def withNewChildInternal(c: Expression): MultiPatternStats =
      copy(child = c)
  }

  /** Per-thread MD5 instance: `MessageDigest.getInstance` is a
    * synchronized JCA provider lookup + allocation — per-ROW cost in the
    * hottest dedup kernel without this. (`digest()` resets the instance,
    * so reuse within a thread is safe; expressions may be shared across
    * local-mode task threads, hence ThreadLocal rather than a lazy val.) */
  private val md5Digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** ±1 plane component for RademacherSigs: parity of the first hex
    * nibble of md5("t:p:d"). The exact convention the DuckDB oracle
    * reproduces as `CAST('0x'||substring(md5(concat(t,':',p,':',d)),1,1)
    * AS BIGINT) % 2`. */
  def rademacherSign(t: Int, p: Int, d: Int): Int = {
    val h = md5Digest.get().digest(
      s"$t:$p:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (((h(0) >> 4) & 1) == 1) 1 else -1
  }

  // ----------------------------------------------------- hash-able argmax

  /** Mutable argmax buffer: the winning ordering tuple and value (Catalyst
    * values of the children's types). */
  final class ArgMaxBuf(var ords: Array[Any], var value: Any, var set: Boolean)

  /** `max_by(value, struct(ord...))` as a TypedImperativeAggregate over
    * any atomic orderings (BIGINT/DOUBLE/INT/STRING, compared
    * lexicographically like a struct).
    *
    * Why: the built-in `max_by` keyed by a struct carries the struct in
    * its aggregation buffer, which HashAggregateExec cannot hold in an
    * UnsafeRow — Spark silently falls back to SortAggregate, sorting every
    * partition of the input BEFORE partial aggregation (twice, with the
    * post-shuffle final agg). That is invisible at test SF and a full-data
    * per-partition sort at 100 TB. A TypedImperativeAggregate runs under
    * ObjectHashAggregateExec: hash-based, sort-free, map-side partials
    * intact. A row with any null ordering value is ignored (matching
    * max_by over a null-free struct ordering in our query surface);
    * min-by over numeric orderings = argmax of the negation. */
  case class ArgMaxByOrd(valueExpr: Expression, ords: Seq[Expression],
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[ArgMaxBuf] {

    override def children: Seq[Expression] = valueExpr +: ords
    override def nullable: Boolean = true
    override def dataType: DataType = valueExpr.dataType

    // Restrict to the types the buffer copies and serializes; an
    // ArrayType/StructType value would alias Spark's reused unsafe input
    // row and return silently corrupt winners — reject at analysis time.
    private def supported(dt: DataType): Boolean = dt match {
      case LongType | DoubleType | IntegerType | StringType => true
      case _: DecimalType => true // exact wide orderings (e.g. DECIMAL(38) CUSUM deviations)
      case _ => false
    }

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      if (!supported(valueExpr.dataType))
        TypeCheckResult.TypeCheckFailure(
          s"graft argmax: unsupported value type ${valueExpr.dataType.simpleString} " +
            "(supported: bigint, double, int, string)")
      else ords.find(o => !supported(o.dataType)) match {
        case Some(o) => TypeCheckResult.TypeCheckFailure(
          s"graft argmax: unsupported ordering type ${o.dataType.simpleString}")
        case None => TypeCheckResult.TypeCheckSuccess
      }
    }

    override def createAggregationBuffer(): ArgMaxBuf =
      new ArgMaxBuf(null, null, false)

    private def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
      case (x: java.lang.Double, y: java.lang.Double) =>
        // Spark SQL comparison treats -0.0 == 0.0; Double.compare does not.
        // Normalize so a -0.0/0.0 ordering stays a TIE (first winner kept),
        // exactly like the built-in max_by this aggregate substitutes for.
        java.lang.Double.compare(x.doubleValue() + 0.0d, y.doubleValue() + 0.0d)
      case (x: java.lang.Integer, y: java.lang.Integer) => java.lang.Integer.compare(x, y)
      case (x: org.apache.spark.unsafe.types.UTF8String,
            y: org.apache.spark.unsafe.types.UTF8String) => x.compareTo(y)
      case (x: org.apache.spark.sql.types.Decimal,
            y: org.apache.spark.sql.types.Decimal) => x.compare(y)
      case other => throw new IllegalStateException(
        s"ArgMaxByOrd: unsupported ordering type ${other._1.getClass}")
    }

    private def better(b: ArgMaxBuf, cand: Array[Any]): Boolean = {
      if (!b.set) return true
      var i = 0
      while (i < cand.length) {
        val c = cmp(cand(i), b.ords(i))
        if (c != 0) return c > 0
        i += 1
      }
      false
    }

    private def copyVal(v: Any): Any = v match {
      // copy unsafe-backed values out of the reused input row
      case s: org.apache.spark.unsafe.types.UTF8String => s.copy()
      case d: org.apache.spark.sql.types.Decimal =>
        org.apache.spark.sql.types.Decimal(d.toJavaBigDecimal, d.precision, d.scale)
      case other => other
    }

    override def update(b: ArgMaxBuf, input: org.apache.spark.sql.catalyst.InternalRow): ArgMaxBuf = {
      val cand = new Array[Any](ords.length)
      var i = 0
      while (i < ords.length) {
        val v = ords(i).eval(input)
        if (v == null) return b // null ordering → row ignored
        cand(i) = v
        i += 1
      }
      if (better(b, cand)) {
        var k = 0
        while (k < cand.length) { cand(k) = copyVal(cand(k)); k += 1 }
        b.ords = cand
        b.value = copyVal(valueExpr.eval(input))
        b.set = true
      }
      b
    }

    override def merge(b: ArgMaxBuf, o: ArgMaxBuf): ArgMaxBuf = {
      if (o.set && better(b, o.ords)) {
        b.ords = o.ords; b.value = o.value; b.set = true
      }
      b
    }

    override def eval(b: ArgMaxBuf): Any = if (b.set) b.value else null

    private def writeTagged(out: java.io.DataOutputStream, v: Any): Unit = v match {
      case null => out.writeByte(0)
      case s: org.apache.spark.unsafe.types.UTF8String =>
        out.writeByte(1); val bytes = s.getBytes; out.writeInt(bytes.length); out.write(bytes)
      case l: java.lang.Long => out.writeByte(2); out.writeLong(l)
      case d: java.lang.Double => out.writeByte(3); out.writeDouble(d)
      case i: java.lang.Integer => out.writeByte(4); out.writeInt(i)
      case d: org.apache.spark.sql.types.Decimal =>
        out.writeByte(5); out.writeInt(d.precision); out.writeInt(d.scale)
        out.writeUTF(d.toJavaBigDecimal.toString)
      case other => throw new IllegalStateException(
        s"ArgMaxByOrd: unsupported value type ${other.getClass}")
    }

    private def readTagged(in: java.io.DataInputStream): Any = in.readByte() match {
      case 0 => null
      case 1 =>
        val n = in.readInt(); val arr = new Array[Byte](n); in.readFully(arr)
        org.apache.spark.unsafe.types.UTF8String.fromBytes(arr)
      case 2 => java.lang.Long.valueOf(in.readLong())
      case 3 => java.lang.Double.valueOf(in.readDouble())
      case 4 => java.lang.Integer.valueOf(in.readInt())
      case 5 =>
        val p = in.readInt(); val sc = in.readInt()
        org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(in.readUTF()), p, sc)
    }

    override def serialize(b: ArgMaxBuf): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeBoolean(b.set)
      if (b.set) {
        out.writeInt(b.ords.length)
        b.ords.foreach(writeTagged(out, _))
        writeTagged(out, b.value)
      }
      out.flush(); bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): ArgMaxBuf = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val b = createAggregationBuffer()
      b.set = in.readBoolean()
      if (b.set) {
        b.ords = Array.fill[Any](in.readInt())(readTagged(in))
        b.value = readTagged(in)
      }
      b
    }

    override def withNewMutableAggBufferOffset(n: Int): ArgMaxByOrd = copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): ArgMaxByOrd = copy(inputAggBufferOffset = n)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ArgMaxByOrd =
      copy(valueExpr = c.head, ords = c.tail)
  }

  /** Per-cut bounded top-k state: rank-ordered (cosine DESC, id ASC)
    * parallel arrays, at most k entries per cut. */
  final class PrefixTopKBuf(nCuts: Int, k: Int) {
    val cos: Array[Array[Double]] = Array.fill(nCuts)(new Array[Double](k))
    val ids: Array[Array[Long]] = Array.fill(nCuts)(new Array[Long](k))
    val size: Array[Int] = new Array[Int](nCuts)
  }

  /** Grouped top-k by prefix-truncation cosine, all cut widths in ONE
    * aggregate — the Matryoshka-recall ranking operator (q209).
    *
    * Why an aggregate and not a window: ranking the exploded
    * (pair × width) rows needs a per-partition SORT under
    * WindowGroupLimit — at N corpus vectors × P probes × C widths that
    * sorts N·P·C rows per input split before any pruning, the dominant
    * cost of the query (measured 17 of 20 s at the 50× probe). A
    * TypedImperativeAggregate under ObjectHashAggregateExec keeps ONE
    * bounded heap per (probe, width) — update is an O(64) fused-cosine
    * pass (the PrefixLongCosines running-partials loop inlined) plus an
    * O(k) ordered insert, map-side partials mean only O(groups · C · k)
    * rows ever cross the wire, and nothing is sorted. At 100 TB the
    * shuffle is |probes| buffers regardless of corpus size.
    *
    * Ordering contract: (cosine DESC, id ASC) with Spark's double
    * semantics — NaN largest, -0.0 == 0.0 — BIT-IDENTICAL member sets to
    * `row_number().over(Window.partitionBy(width).orderBy(cos.desc,
    * id.asc)) <= k` over the sliced/fused kernel (spec-pinned). Output:
    * array<struct<trunc_dim BIGINT, vec_id BIGINT>> in (cut, rank) order. */
  case class PrefixTopKAgg(qv: Expression, pqv: Expression, idExpr: Expression,
      cuts: Seq[Int], k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[PrefixTopKBuf] {
    require(cuts.nonEmpty && cuts == cuts.sorted && cuts.forall(_ >= 1),
      s"ascending positive cut points expected, got $cuts")
    require(k >= 1, s"positive k expected, got $k")

    override def children: Seq[Expression] = Seq(qv, pqv, idExpr)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("trunc_dim", LongType, nullable = false),
      StructField("vec_id", LongType, nullable = false))), containsNull = false)

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      def isLongArray(dt: DataType): Boolean = dt match {
        case ArrayType(LongType, _) => true
        case _ => false
      }
      if (!isLongArray(qv.dataType) || !isLongArray(pqv.dataType))
        TypeCheckResult.TypeCheckFailure(
          s"graft prefixTopK: array<bigint> vectors expected, got " +
            s"${qv.dataType.simpleString} / ${pqv.dataType.simpleString}")
      else if (idExpr.dataType != LongType)
        TypeCheckResult.TypeCheckFailure(
          s"graft prefixTopK: bigint id expected, got ${idExpr.dataType.simpleString}")
      else TypeCheckResult.TypeCheckSuccess
    }

    override def createAggregationBuffer(): PrefixTopKBuf =
      new PrefixTopKBuf(cuts.size, k)

    // Spark SQL double ordering: NaN largest, -0.0 == 0.0. Values are
    // normalized with +0.0 at insert time so Double.compare matches.
    private def better(c1: Double, id1: Long, c2: Double, id2: Long): Boolean = {
      val d = java.lang.Double.compare(c1, c2)
      if (d != 0) d > 0 else id1 < id2
    }

    /** Ordered insert of (cosRaw, id) into cut c's heap; drops the worst
      * entry when full. O(k) shift, k is small by contract. */
    private def offer(b: PrefixTopKBuf, c: Int, cosRaw: Double, id: Long): Unit = {
      val cos = cosRaw + 0.0d // -0.0 → 0.0 (ties resolve on id, like the window)
      val n = b.size(c)
      val ca = b.cos(c); val ia = b.ids(c)
      if (n == k && !better(cos, id, ca(n - 1), ia(n - 1))) return
      var i = if (n == k) n - 1 else n // insertion slot, scanning up
      while (i > 0 && better(cos, id, ca(i - 1), ia(i - 1))) {
        ca(i) = ca(i - 1); ia(i) = ia(i - 1); i -= 1
      }
      ca(i) = cos; ia(i) = id
      if (n < k) b.size(c) = n + 1
    }

    override def update(b: PrefixTopKBuf, input: org.apache.spark.sql.catalyst.InternalRow): PrefixTopKBuf = {
      val a = qv.eval(input)
      val p = pqv.eval(input)
      val idv = idExpr.eval(input)
      if (a == null || p == null || idv == null) return b
      val va = a.asInstanceOf[ArrayData]
      val vb = p.asInstanceOf[ArrayData]
      val id = idv.asInstanceOf[Long]
      val n = math.min(va.numElements(), vb.numElements())
      // PrefixLongCosines' running-partials loop, fused with the heap
      // offers — bit-identical snapshots at each cut.
      var dot = 0L; var na = 0L; var nb = 0L
      var i = 0; var c = 0
      while (c < cuts.size) {
        val cut = math.min(cuts(c), n)
        while (i < cut) {
          val x = va.getLong(i)
          val y = vb.getLong(i)
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        offer(b, c, dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)), id)
        c += 1
      }
      b
    }

    override def merge(b: PrefixTopKBuf, o: PrefixTopKBuf): PrefixTopKBuf = {
      var c = 0
      while (c < cuts.size) {
        var j = 0
        while (j < o.size(c)) { offer(b, c, o.cos(c)(j), o.ids(c)(j)); j += 1 }
        c += 1
      }
      b
    }

    override def eval(b: PrefixTopKBuf): Any = {
      val out = new Array[Any](b.size.sum)
      var w = 0; var c = 0
      while (c < cuts.size) {
        var j = 0
        while (j < b.size(c)) {
          out(w) = org.apache.spark.sql.catalyst.InternalRow(cuts(c).toLong, b.ids(c)(j))
          w += 1; j += 1
        }
        c += 1
      }
      new GenericArrayData(out)
    }

    override def serialize(b: PrefixTopKBuf): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      var c = 0
      while (c < cuts.size) {
        out.writeInt(b.size(c))
        var j = 0
        while (j < b.size(c)) {
          out.writeDouble(b.cos(c)(j)); out.writeLong(b.ids(c)(j)); j += 1
        }
        c += 1
      }
      out.flush(); bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): PrefixTopKBuf = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val b = createAggregationBuffer()
      var c = 0
      while (c < cuts.size) {
        val n = in.readInt()
        b.size(c) = n
        var j = 0
        while (j < n) { b.cos(c)(j) = in.readDouble(); b.ids(c)(j) = in.readLong(); j += 1 }
        c += 1
      }
      b
    }

    override def withNewMutableAggBufferOffset(n: Int): PrefixTopKAgg = copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): PrefixTopKAgg = copy(inputAggBufferOffset = n)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PrefixTopKAgg =
      copy(qv = c(0), pqv = c(1), idExpr = c(2))
  }

  /** Banded (Ukkonen) Levenshtein distance capped at `k`: returns the
    * exact edit distance when ≤ k, else k+1. The DP only visits the
    * 2k+1-wide diagonal band — O(k·n) instead of O(n·m) — with an
    * early exit when a whole row saturates, so `dist ≤ k` predicates
    * (entity resolution, fuzzy matching) cost ~k/len of the full
    * matrix on long strings. Semantics: `boundedLev(a,b,k) ≤ k` ⟺
    * `levenshtein(a,b) ≤ k`, and equal values below the cap
    * (property-tested against Spark's own levenshtein; char-based DP —
    * identical to code-point DP on BMP text). */
  case class BoundedLevenshtein(left: Expression, right: Expression, k: Int)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
    require(k >= 0, "bound must be >= 0")
    override def dataType: DataType = IntegerType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val s = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
      val t = b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
      NativeExpressions.boundedLev(s, t, k)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): BoundedLevenshtein =
      copy(left = l, right = r)
  }

  /** The banded DP itself (shared with tests). */
  private[graft] def boundedLev(s: String, t: String, k: Int): Int = {
    val n = s.length; val m = t.length
    if (math.abs(n - m) > k) return k + 1
    val inf = k + 1
    var prev = new Array[Int](m + 1)
    var curr = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= k) j else inf; j += 1 }
    var i = 1
    while (i <= n) {
      val from = math.max(1, i - k)
      val to = math.min(m, i + k)
      curr(0) = if (i <= k) i else inf
      // the only out-of-band cells the band loop / next row ever read
      if (from > 1) curr(from - 1) = inf
      if (to < m) curr(to + 1) = inf
      var rowMin = if (from == 1) curr(0) else inf
      j = from
      while (j <= to) {
        val cost = if (s.charAt(i - 1) == t.charAt(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        val del = prev(j) + 1
        if (del < v) v = del
        val ins = curr(j - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        curr(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin >= inf) return inf // whole band saturated: distance > k
      val tmp = prev; prev = curr; curr = tmp
      i += 1
    }
    math.min(prev(m), inf)
  }

  // ------------------------------------------------------- Column bridges

  def simhash64(hashes: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(hashes)))

  def rademacherSigs(vec: Column, tables: Int, planes: Int, dim: Int): Column =
    ColumnBridge.column(RademacherSigs(ColumnBridge.expression(vec), tables, planes, dim))

  def repetitionStats(text: Column): Column =
    ColumnBridge.column(RepetitionStats(ColumnBridge.expression(text)))

  def wavSampleStats(content: Column): Column =
    ColumnBridge.column(WavSampleStats(ColumnBridge.expression(content)))

  def portableMinHashSigs(shingles: Column, k: Int): Column =
    ColumnBridge.column(PortableMinHashSigs(ColumnBridge.expression(shingles), k))

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimFloat(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def wordShingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n))

  def charTrigrams(text: Column): Column =
    ColumnBridge.column(CharTrigrams(ColumnBridge.expression(text)))

  def quantizedCosine(a: Column, b: Column): Column =
    ColumnBridge.column(QuantizedCosine(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def longCosine(a: Column, b: Column): Column =
    ColumnBridge.column(LongCosine(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def sqDiffSumLong(a: Column, b: Column): Column =
    ColumnBridge.column(SqDiffSumLong(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def sigAgreeCount(a: Column, b: Column): Column =
    ColumnBridge.column(SigAgreeCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** 60-bit portable md5 hash of the BINARY form of `c` (strings hash
    * their UTF-8 bytes, matching `md5(CAST(x AS BLOB))` on the SQL side). */
  def hash60(c: Column): Column =
    ColumnBridge.column(Hash60(ColumnBridge.expression(c.cast("binary"))))

  def prefixLongCosines(a: Column, b: Column, cuts: Seq[Int]): Column =
    ColumnBridge.column(PrefixLongCosines(
      ColumnBridge.expression(a), ColumnBridge.expression(b), cuts))

  /** Grouped sort-free top-k per prefix-truncation width — see PrefixTopKAgg. */
  def prefixTopK(qv: Column, pqv: Column, id: Column, cuts: Seq[Int], k: Int): Column =
    ColumnBridge.column(PrefixTopKAgg(ColumnBridge.expression(qv),
      ColumnBridge.expression(pqv), ColumnBridge.expression(id), cuts, k)
      .toAggregateExpression())

  def boundedLevenshtein(a: Column, b: Column, k: Int): Column =
    ColumnBridge.column(BoundedLevenshtein(
      ColumnBridge.expression(a), ColumnBridge.expression(b), k))

  def normalizeFold(text: Column): Column =
    ColumnBridge.column(NormalizeFold(ColumnBridge.expression(text)))

  def winnowStats(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowStats(ColumnBridge.expression(text), k, w))

  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFingerprints(ColumnBridge.expression(text), k, w))

  def multiPatternStats(text: Column, patterns: Seq[String]): Column =
    ColumnBridge.column(MultiPatternStats(ColumnBridge.expression(text), patterns))

  def wavQcStats(content: Column, clipAbs: Int, silenceAbs: Int): Column =
    ColumnBridge.column(WavQcStats(ColumnBridge.expression(content), clipAbs, silenceAbs))

  def termCounts(text: Column, terms: Seq[String]): Column =
    ColumnBridge.column(TermCounts(ColumnBridge.expression(text), terms))

  /** Hash-aggregable `max_by(value, struct(ords...))` — see ArgMaxByOrd. */
  def argMaxBy(value: Column, ords: Column*): Column =
    ColumnBridge.column(ArgMaxByOrd(ColumnBridge.expression(value),
      ords.map(ColumnBridge.expression))
      .toAggregateExpression())

  /** min-by over numeric orderings = argmax of the negation. */
  def argMinBy(value: Column, ords: Column*): Column =
    argMaxBy(value, ords.map(o => -o): _*)
}
