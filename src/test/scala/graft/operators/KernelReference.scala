package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference formulations of the codegen'd kernels that GraftExtensions
  * registers. Production code calls the kernels only; these exist so the
  * kernel≡reference specs can assert bit-equality. Each `hof*` form is
  * built from Spark built-ins and higher-order functions (interpreted
  * lambdas, no extensions needed); [[winnowRef]], [[pqEncodeRef]] and
  * [[adcTableRef]] are plain Scala. */
object KernelReference {

  // ------------------------------------------------------------ vectors

  /** `graft_dot`: index-order fold over `zip_with` products. */
  def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0d), (s, x) => s + x)

  /** `graft_vec_simhash`: `bits` separate per-hyperplane folds. */
  def hofSimhash(v: Column, bits: Int = 16): Column = {
    // hyperplane component r_i[d] ∈ {-1, +1} from the parity of xxhash64(i, d)
    val bitCols = (0 until bits).map { i =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, d) => when(pmod(xxhash64(lit(i), d), lit(2)) === 0, x).otherwise(-x)),
        lit(0d), (s, x) => s + x)
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce(_ bitwiseOR _)
  }

  /** `graft_simhash64` over an array of PRE-COMPUTED token hashes: for
    * each bit i, sum +1/-1 over tokens according to bit i of the hash;
    * bit set iff sum ≥ 0. */
  def simhashOfHashes(tokenHashes: Column): Column = {
    val bitCols = (0 until SimHashDedup.bits).map { i =>
      val contrib = aggregate(
        transform(tokenHashes,
          h => when(shiftrightunsigned(h, i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)),
        lit(0L), (s, x) => s + x)
      when(contrib >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce(_ bitwiseOR _)
  }

  // -------------------------------------------------- product quantization

  /** `graft_pq_encode`: per subspace, `array_min` over (d2, code) structs —
    * four nested higher-order functions per row. */
  def hofPqEncode(v: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val m = codebooks.size
    val ks = codebooks.head.size
    val dsub = codebooks.head.head.size
    val cb = typedLit(codebooks)
    transform(sequence(lit(0), lit(m - 1)), mi => {
      val sub = slice(v, mi * dsub + 1, lit(dsub))
      array_min(transform(sequence(lit(0), lit(ks - 1)), k =>
        struct(
          aggregate(
            zip_with(sub, element_at(element_at(cb, mi + 1), k + 1),
              (x, y) => (x - y) * (x - y)),
            lit(0d), (s, x) => s + x).as("d2"),
          k.as("code")))).getField("code")
    })
  }

  /** `graft_adc_table`: the flat M·Ks table of subspace inner products. */
  def hofAdcTable(qv: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val m = codebooks.size
    val ks = codebooks.head.size
    val dsub = codebooks.head.head.size
    val cb = typedLit(codebooks)
    flatten(transform(sequence(lit(0), lit(m - 1)), mi =>
      transform(sequence(lit(0), lit(ks - 1)), k =>
        aggregate(
          zip_with(slice(qv, mi * dsub + 1, lit(dsub)),
            element_at(element_at(cb, mi + 1), k + 1), (x, y) => x * y),
          lit(0d), (s, x) => s + x))))
  }

  /** Subspace `mi`'s `dsub`-long slice of `v` — None when `v` is NULL,
    * too short, or holds a NULL inside the slice (where the HOF fold
    * NULL-poisons). */
  private def subSlice(v: Seq[java.lang.Double], mi: Int, dsub: Int): Option[Seq[Double]] =
    Option(v).map(_.slice(mi * dsub, (mi + 1) * dsub))
      .filter(s => s.size == dsub && !s.contains(null)).map(_.map(_.doubleValue))

  /** `graft_pq_encode` in plain Scala, from the HOF's definition: per
    * subspace the squared L2 to each codeword as a left fold in slice
    * order, the argmin by `java.lang.Double.compare` (the first, lowest
    * code on ties — `array_min` over (d2, code) structs); an unusable
    * slice ([[subSlice]]) encodes as 0. */
  def pqEncodeRef(v: Seq[java.lang.Double], codebooks: Seq[Seq[Seq[Double]]]): Seq[Int] =
    codebooks.zipWithIndex.map { case (cws, mi) =>
      subSlice(v, mi, cws.head.size).fold(0) { sub =>
        cws.indices.minBy(k => sub.zip(cws(k))
          .foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) })(
          Ordering.Double.TotalOrdering)
      }
    }

  /** `graft_adc_table` in plain Scala: entry mi·Ks + k is the left-fold
    * inner product of query slice mi with codeword k; an unusable slice
    * makes all of its subspace's entries NULL. */
  def adcTableRef(qv: Seq[java.lang.Double], codebooks: Seq[Seq[Seq[Double]]])
      : Seq[java.lang.Double] =
    codebooks.zipWithIndex.flatMap { case (cws, mi) =>
      val sub = subSlice(qv, mi, cws.head.size)
      cws.map(cw => sub.map(s => java.lang.Double.valueOf(
        s.zip(cw).foldLeft(0.0) { case (a, (x, y)) => a + x * y })).orNull)
    }

  /** `graft_adc_score`: Σ_m table[m·Ks + codes(m)]. */
  def hofAdcScore(codes: Column, table: Column, ks: Int): Column =
    aggregate(
      zip_with(codes, sequence(lit(0), size(codes) - 1),
        (c, mi) => element_at(table, mi * ks + c + 1)),
      lit(0d), (s, x) => s + x)

  // ------------------------------------------------------------ text

  /** `graft_hash_embed` over an ALREADY-MATERIALIZED token column: touches
    * all `dim` slots per feature, but spells the identical arithmetic —
    * same xxhash64(seed 42), same pmod bucket, same bit-32 sign, same
    * fold order (unigrams then bigrams), same normalization. */
  def hofEmbed(toks: Column, dim: Int): Column = {
    val feats = concat(toks, TextOps.gramsOfToks(toks, 2))
    def bucket(f: Column) = pmod(xxhash64(f), lit(dim.toLong))
    def sign(f: Column) =
      lit(1.0) - shiftrightunsigned(xxhash64(f), 32)
        .bitwiseAND(lit(1L)).cast("double") * 2.0
    val acc = aggregate(feats,
      array_repeat(lit(0.0), dim),
      (a, f) => transform(a, (s, i) =>
        s + when(bucket(f) === i.cast("long"), sign(f)).otherwise(0.0)))
    val ss = aggregate(acc, lit(0.0), (s, x) => s + x * x)
    when(ss > 0.0, transform(acc, x => x / sqrt(ss))).otherwise(acc)
  }

  /** `graft_window_digests`: one (pos, md5(window)) struct per L-token
    * window, a slice + concat allocation per window. */
  def hofWindowDigests(toks: Column, spanL: Int): Column =
    transform(
      sequence(lit(1), size(toks) - (spanL - 1)),
      i => struct(i.cast("long").as("pos"),
        md5(concat_ws(" ", slice(toks, i, lit(spanL)))).as("g")))

  /** `graft_unigram_score`: map-literal fold, OOV for unseen keys. */
  def hofUnigramScore(feats: Column, model: Map[String, Long], oov: Long): Column =
    aggregate(feats, lit(0L),
      (s, f) => s + coalesce(element_at(typedLit(model), f), lit(oov)))

  /** [[LmScore.scoreKernel]] with a broadcast 1-row (model, oov) frame and
    * an `aggregate` fold: appends `n_tok` and `lp_mean`. `element_at`
    * against a map column is a linear scan per token. */
  def hofLmScore(docs: DataFrame, modelRow: DataFrame): DataFrame = {
    // tokenize ONCE into an array column; n_tok and the fold both read it
    val sumMicro = aggregate(col("toks"), lit(0L),
      (s, t) => s + coalesce(element_at(col("model"), t), col("oov")))
    docs.crossJoin(broadcast(modelRow))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("lp_mean",
        round(sumMicro.cast("double") / LmScore.Micro / col("n_tok"), 6))
      .drop("model", "oov", "toks")
  }

  /** `graft_token_ngrams` over an ALREADY-TOKENIZED column. Guarded: texts
    * shorter than `n` tokens yield an empty array (a bare
    * `sequence(0, size-n)` would DESCEND for negative ends); NULL stays
    * NULL to match the kernel. */
  def tokenShinglesOfToks(toks: Column, n: Int = Contamination.ShingleN): Column =
    when(toks.isNull, lit(null).cast("array<string>"))
      .when(size(toks) >= n,
        array_distinct(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(typedLit(Array.empty[String]))

  /** `graft_repetition_stats`' top2: max multiplicity of any element —
    * sort, then one aggregate() pass tracking the current and best run.
    * Null-safe prev comparison so the initial sentinel can't alias a gram. */
  def maxMultiplicity(arr: Column): Column = {
    val init = struct(
      lit(null).cast("string").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    aggregate(
      array_sort(arr), init,
      (a, x) => {
        val run = when(x.eqNullSafe(a.getField("prev")), a.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(a.getField("best"), run).as("best"))
      },
      a => a.getField("best"))
  }

  /** Sorted non-space char array (`graft_char_stats`' input multiset). */
  def sortedChars(text: Column): Column =
    array_sort(filter(split(text, ""), c => c =!= " "))

  /** `graft_char_stats` entropy in bits, as a run-length fold over an
    * ALREADY-SORTED char array column. */
  def charEntropyBitsOfChars(chars: Column): Column = {
    // run = 0 at the first element (initial state): log10(0) is -Inf and
    // 0·(-Inf) is NaN, which would null the whole accumulator — guard it
    def term(run: Column): Column =
      when(run > 0,
        round(log10(run.cast("double")) * run * LmScore.Micro, 0).cast("long"))
        .otherwise(lit(0L))
    val init = struct(
      lit(null).cast("string").as("prev"), lit(0L).as("run"), lit(0L).as("acc"))
    val folded = aggregate(
      chars, init,
      (a, x) => {
        val same = x.eqNullSafe(a.getField("prev"))
        struct(
          x.as("prev"),
          when(same, a.getField("run") + 1L).otherwise(lit(1L)).as("run"),
          when(same, a.getField("acc"))
            .otherwise(a.getField("acc") + term(a.getField("run"))).as("acc"))
      },
      a => a.getField("acc") + term(a.getField("run")))
    val n = size(chars)
    round(
      (log10(n.cast("double")) - folded.cast("double") / LmScore.Micro / n)
        / log10(lit(2.0)), 6)
  }

  /** `graft_winnow` in built-ins: the polynomial hash (base 257 mod
    * 2³¹−1), window minima, distinct+sort — via `transform`/`aggregate`/
    * `slice`, re-substringing the text per (position × offset). */
  def hofWinnow(text: Column, k: Int = TextOps.WinnowK, w: Int = TextOps.WinnowW): Column = {
    val hs = transform(
      sequence(lit(0), length(text) - k),
      i => aggregate(sequence(lit(1), lit(k)), lit(0L),
        (h, j) => (h * lit(graft.plans.WinnowExpr.Base)
          + ascii(substr(text, i + j, lit(1)))) % lit(graft.plans.WinnowExpr.Mod)))
    val mins = transform(
      sequence(lit(0), greatest(lit(0), size(hs) - w)),
      i => array_min(slice(hs, i + lit(1), lit(w))))
    // NULL text must stay NULL to match the kernel (a bare when() treats a
    // NULL condition as false and would fall through to the empty array).
    when(text.isNull, lit(null).cast("array<bigint>"))
      .when(length(text) >= k, array_sort(array_distinct(mins)))
      .otherwise(typedLit(Array.empty[Long]))
  }

  /** `graft_winnow` in plain Scala, written from the definition: the
    * direct k-term hash `h = (h·257 + cp) mod (2³¹−1)` of every k-gram of
    * Unicode code points, the minimum of every w-wide window of hashes
    * (leftmost on ties, which only matters for positions — the output is
    * values; one window over all hashes when fewer than w exist),
    * distinct and sorted. NULL → NULL; fewer than k code points → empty. */
  def winnowRef(text: String, k: Int, w: Int): Seq[Long] = {
    val Base = 257L
    val Mod = (1L << 31) - 1
    if (text == null) return null
    val cps = text.codePoints().toArray
    if (cps.length < k) return Seq.empty
    val hashes = (0 to cps.length - k).map(i =>
      (0 until k).foldLeft(0L)((h, j) => (h * Base + cps(i + j)) % Mod))
    hashes.sliding(w).map(_.min).toSeq.distinct.sorted
  }
}
