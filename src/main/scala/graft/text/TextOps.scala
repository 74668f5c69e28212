package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, and document fingerprinting.
  *
  * All of these are pure per-row Column expressions (no UDF, no shuffle) —
  * they run inside whole-stage codegen in the same scan as any validation
  * checks, which is exactly what you want when profiling 100 TB of text: one
  * pass, column-pruned to just the text column.
  */
object TextOps {

  /** Whitespace tokenizer (consecutive whitespace collapsed). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-2-style pre-tokenizer segment pattern (Radford et al. 2019,
    * simplified to the RE2-compatible subset — the trailing-whitespace
    * lookahead branch is dropped, so runs of whitespace count as one
    * segment): contractions, letter runs, digit runs, punctuation runs,
    * each with an optional leading space. Identical leftmost-first
    * alternation semantics in Java regex and RE2, so counts are
    * engine-reproducible. */
  private[graft] val subwordPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** BPE-ish subword token count — the tokenizer-cost accounting sibling of
    * the whitespace [[tokenCount]]: pre-tokenizer segments are the upper
    * bound of BPE merges, so this tracks real tokenizer cost far closer
    * than word count on punctuation- or digit-heavy text. One codegen'd
    * `regexp_count` projection — no UDF, no shuffle. */
  def subwordCount(text: Column): Column = regexp_count(text, lit(subwordPattern))

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "or", "to", "in", "is", "it")

  /** Number of tokens that are stopwords. Primitive-loop per-row kernel —
    * a Catalyst higher-order `filter()` would run interpreted per element
    * (see the simhash64 note), which is the wrong shape for the hot
    * single-pass curation scan this feeds ([[curationVerdicts]]). Null text
    * → null count. */
  def stopwordCount(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val stops = stopwords.toSet
    val u = udf { (s: String) =>
      if (s == null) null.asInstanceOf[java.lang.Integer]
      else {
        val toks = s.trim.split("\\s+")
        var i = 0
        var c = 0
        while (i < toks.length) { if (stops.contains(toks(i))) c += 1; i += 1 }
        java.lang.Integer.valueOf(c)
      }
    }
    u(text)
  }

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))

  /** Marker-stopword language-ID heuristic: pick the language whose marker
    * words occur most among the tokens; `unk` when nothing matches. The
    * marker lists are deliberately tiny — this is an n-gram/stopword
    * heuristic, not a model. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "la", "los", "y", "es")
  )

  def langId(text: Column): Column = {
    // one tokenization pass scoring every marker set — a primitive-loop
    // kernel like stopwordCount (the HOF filter-per-language chain ran
    // interpreted AND tokenized once per language). Tie-break preserved
    // from the struct-max formulation: highest score, then greatest lang
    // string; null/no-match → "unk".
    val sets = langMarkers.map { case (l, ms) => (l, ms.toSet) }
    val u = udf { (s: String) =>
      if (s == null) "unk"
      else {
        val toks = s.trim.split("\\s+")
        var bestLang = "unk"
        var best = 0
        for ((lang, set) <- sets) {
          var c = 0
          var i = 0
          while (i < toks.length) { if (set.contains(toks(i))) c += 1; i += 1 }
          if (c > best || (c == best && c > 0 && lang > bestLang)) { best = c; bestLang = lang }
        }
        bestLang
      }
    }
    u(text)
  }

  /** Document fingerprint: 64-bit hash of the whitespace-normalised,
    * lowercased text. Deterministic across runs/partitions — usable as an
    * exact-dedup key at any scale. */
  def fingerprint(text: Column): Column =
    xxhash64(lower(regexp_replace(trim(text), "\\s+", " ")))


  /** Word n-gram shingle HASHES: sorted distinct 64-bit hashes of the
    * n-gram shingles. The representation of choice for set-similarity at
    * scale — pair Jaccard over two sorted long arrays is a primitive merge
    * (see Dedup.jaccardLong), ~50× cheaper than string-array intersection. */
  def wordShingleHashes(text: Column, n: Int = 3): Column = {
    val nn = n
    val u = udf { (s: String) =>
      if (s == null) Array.empty[Long]
      else {
        val toks = s.trim.split("\\s+")
        val out =
          if (toks.length <= nn) Array(fnv1a64(toks.mkString(" ")))
          else {
            val sb = new StringBuilder
            val arr = new Array[Long](toks.length - nn + 1)
            var i = 0
            while (i + nn <= toks.length) {
              sb.clear()
              var j = 0
              while (j < nn) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
              arr(i) = fnv1a64(sb.toString)
              i += 1
            }
            arr
          }
        java.util.Arrays.sort(out)
        // dedupe in place (sorted)
        var w = 0
        var r = 0
        while (r < out.length) {
          if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
          r += 1
        }
        java.util.Arrays.copyOf(out, w)
      }
    }
    u(text)
  }

  /** Word n-gram shingles. Per-row kernel UDF. */
  def wordShingles(text: Column, n: Int = 3): Column = {
    val nn = n
    val u = udf { (s: String) =>
      if (s == null) Seq.empty[String]
      else {
        val toks = s.trim.split("\\s+").toSeq
        if (toks.length <= nn) Seq(toks.mkString(" "))
        else toks.sliding(nn).map(_.mkString(" ")).distinct.toSeq
      }
    }
    u(text)
  }

  /** FNV-1a 64-bit string hash (public-domain algorithm) — the engine's
    * row-local hash kernel for signature ops. Deterministic, seedable. */
  def fnv1a64(s: String, seed: Long = 0L): Long = {
    var h = 0xcbf29ce484222325L ^ seed
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001b3L
      i += 1
    }
    h
  }

  private[graft] def simhashOf(text: String): Long = {
    if (text == null) return 0L
    val toks = text.trim.split("\\s+")
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = fnv1a64(toks(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  private val simhashUdf = udf((s: String) => simhashOf(s))

  /** SimHash-64 over token hashes. Per-row compute kernel (like image
    * decode): implemented as a tight Scala UDF rather than Catalyst
    * higher-order functions, which are CodegenFallback (interpreted) and ~50×
    * slower for this access pattern. Row-local, no shuffle, fully
    * distributed; the UDF is isolated to the signature projection so the
    * surrounding plan stays codegen'd. */
  def simhash64(text: Column): Column = simhashUdf(text)

  /** Winnowing fingerprints (the MOSS construction; Schleimer/Wilkerson/
    * Aiken, SIGMOD'03): a TRUE ROLLING polynomial hash over character
    * k-grams of the normalized text (O(n), Rabin–Karp style: one multiply +
    * one add to extend, one subtract of `base^(k-1)·outgoing` to slide),
    * then the minimum hash of every window of `w` consecutive k-grams
    * (rightmost-min tie-break). Guarantee: two documents sharing any
    * substring of ≥ w + k − 1 chars share at least one fingerprint, while
    * only ~2/(w+1) of positions are kept — the edit-robust, bounded-size
    * dedup key the whole-document [[fingerprint]] cannot give.
    * Output: sorted distinct Array[Long], row-local kernel. */
  private[graft] def winnowingOf(text: String, k: Int, w: Int): Array[Long] = {
    if (text == null) return Array.empty[Long]
    val s = text.trim.replaceAll("\\s+", " ").toLowerCase
    if (s.length < k) return if (s.isEmpty) Array.empty[Long] else Array(fnv1a64(s))
    val base = 0x100000001b3L
    var basePow = 1L // base^(k-1)
    var i = 1
    while (i < k) { basePow *= base; i += 1 }
    val nGrams = s.length - k + 1
    val hashes = new Array[Long](nGrams)
    var h = 0L
    i = 0
    while (i < k) { h = h * base + s.charAt(i); i += 1 } // first k-gram
    hashes(0) = h
    i = 1
    while (i < nGrams) {
      h = (h - s.charAt(i - 1) * basePow) * base + s.charAt(i + k - 1)
      hashes(i) = h
      i += 1
    }
    // minimum per window of w k-grams, rightmost-min tie-break; record each
    // selected position once (classic winnowing)
    val ww = math.min(w, nGrams)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var lastPos = -1
    var start = 0
    while (start + ww <= nGrams) {
      var minPos = start
      var j = start + 1
      while (j < start + ww) { if (hashes(j) <= hashes(minPos)) minPos = j; j += 1 }
      if (minPos != lastPos) { out += hashes(minPos); lastPos = minPos }
      start += 1
    }
    val arr = out.toArray
    java.util.Arrays.sort(arr)
    var wr = 0; var rd = 0
    while (rd < arr.length) {
      if (wr == 0 || arr(rd) != arr(wr - 1)) { arr(wr) = arr(rd); wr += 1 }
      rd += 1
    }
    java.util.Arrays.copyOf(arr, wr)
  }

  /** Winnowing fingerprint column: sorted distinct rolling-hash
    * fingerprints (see [[winnowingOf]]). Per-row kernel UDF. */
  def winnowingFingerprints(text: Column, k: Int = 8, w: Int = 4): Column = {
    val (kk, www) = (k, w)
    val u = udf((s: String) => winnowingOf(s, kk, www))
    u(text)
  }

  /** Benchmark-contamination scan — the decontamination step of a training
    * corpus: documents sharing ≥ `minOverlap` distinct word n-gram shingles
    * with ANY benchmark document (the standard n-gram-overlap test used to
    * strip evaluation data from training sets). Output: (doc_id, overlap),
    * only contaminated docs.
    *
    * Plan shape: the benchmark explodes to ONE distinct 8-byte hash set —
    * benchmarks are tiny next to the corpus, so Spark broadcasts it and the
    * corpus side never shuffles its shingles; per-doc overlap is a count
    * aggregation keyed by doc id. At a benchmark too large to broadcast the
    * same plan degrades to a hash-join on the 8-byte shingle hash — and for
    * THAT regime the corpus side is first pruned by a Bloom filter of the
    * benchmark hashes (built once by a tree aggregation over the small
    * side, broadcast to the scan): at 100 TB the corpus shuffles only
    * shingles that MIGHT be contaminated (true hits + `bloomFpp` false
    * positives), so shuffle volume tracks the contamination rate instead of
    * the corpus size. False positives are harmless — the equi-join after
    * the prefilter is still exact. Benchmarks under `bloomThreshold`
    * distinct hashes skip the bloom (the broadcast join already never
    * shuffles the corpus side there). Shingle hashing shared with the
    * dedup family ([[wordShingleHashes]]: sorted distinct, so the exploded
    * side is per-doc distinct for free). */
  def contaminatedDocs(
      corpus: DataFrame,
      text: Column,
      id: Column,
      benchmark: DataFrame,
      btext: Column,
      minOverlap: Int = 3,
      shingleWords: Int = 3,
      bloomThreshold: Long = 1000000L,
      bloomFpp: Double = 0.01
  ): DataFrame = {
    val spark = corpus.sparkSession
    val bset = benchmark
      .select(explode(wordShingleHashes(btext, shingleWords)).as("_g"))
      .distinct()
    val corpusShingles =
      corpus.select(id.as("doc_id"), explode(wordShingleHashes(text, shingleWords)).as("_g"))
    val pruned = {
      // one cheap job on the SMALL side decides the regime; the big side
      // stays untouched until the final single pass
      val nb = bset.count()
      if (nb < bloomThreshold) corpusShingles
      else {
        val bloom = bset.stat.bloomFilter("_g", nb, bloomFpp)
        val bc = spark.sparkContext.broadcast(bloom)
        val mightContain = udf { (g: Long) => bc.value.mightContainLong(g) }
        corpusShingles.filter(mightContain(col("_g")))
      }
    }
    pruned
      .join(bset, Seq("_g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** Graded decontamination: per-document n-gram overlap FRACTION against a
    * benchmark, the scoring sibling of [[contaminatedDocs]] (which returns
    * the boolean ≥-minOverlap set). GPT-3/PaLM-style contamination audits
    * threshold on the fraction of a document's n-grams that appear in the
    * eval set rather than an absolute count, so short and long documents
    * are judged on the same scale (Brown et al. 2020 appendix C use 13-gram
    * overlap; the window length is `shingleWords`).
    *
    * Scale shape: ONE explode pass over the corpus; the benchmark is one
    * distinct-shingle aggregation whose join side is broadcast under AQE
    * when small (shuffle-hash on the 8-byte gram key otherwise); totals and
    * hits reduce in the SAME map-side-combinable aggregation, so the score
    * costs exactly one join + one groupBy — no second corpus scan for the
    * denominator. Shingles are DISTINCT per doc ([[wordShingleHashes]]),
    * so frac ∈ [0,1] by construction. Docs with no shingles (null/empty
    * text) produce no rows, as in [[contaminatedDocs]].
    * Output: (doc_id, ngrams, overlap, frac — unrounded; cross-engine
    * comparisons should round, see q90). */
  def contaminationScore(
      corpus: DataFrame,
      text: Column,
      id: Column,
      benchmark: DataFrame,
      btext: Column,
      shingleWords: Int = 3
  ): DataFrame = {
    val bset = benchmark
      .select(explode(wordShingleHashes(btext, shingleWords)).as("_g"))
      .distinct()
      .withColumn("_hit", lit(1))
    corpus
      .select(id.as("doc_id"), explode(wordShingleHashes(text, shingleWords)).as("_g"))
      .join(bset, Seq("_g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("ngrams"), count(col("_hit")).as("overlap"))
      .withColumn("frac", col("overlap") / col("ngrams"))
  }

  /** Multi-benchmark decontamination ATTRIBUTION — [[contaminationScore]]
    * against MANY benchmarks in ONE pass, with per-(doc, benchmark)
    * overlap fractions: the report a release pipeline needs ("which eval
    * set does this doc leak, and how much") instead of a single pooled
    * score. Output: (doc_id, bench_id, ngrams, overlap, frac), only pairs
    * with overlap > 0.
    *
    * Scale shape: docs are shingled ONCE (size + explode ride the same
    * projection); benchmark shingles collapse to DISTINCT
    * (bench_id, ngram) keys — benchmarks are tiny next to corpora, so the
    * inner hit-join broadcasts; the aggregate is an 8-byte-keyed
    * (doc, bench) groupBy whose output is sparse (contaminated pairs
    * only). */
  def contaminationAttribution(
      corpus: DataFrame,
      text: Column,
      id: Column,
      benchmarks: DataFrame,
      btext: Column,
      benchId: Column,
      shingleWords: Int = 3
  ): DataFrame = {
    val bset = benchmarks
      .select(benchId.as("bench_id"), explode(wordShingleHashes(btext, shingleWords)).as("_g"))
      .distinct()
    corpus
      .select(id.as("doc_id"), wordShingleHashes(text, shingleWords).as("_sh"))
      .select(col("doc_id"), size(col("_sh")).cast("long").as("ngrams"), explode(col("_sh")).as("_g"))
      .join(bset, Seq("_g"))
      .groupBy("doc_id", "bench_id", "ngrams")
      .agg(count(lit(1)).as("overlap"))
      .withColumn("frac", col("overlap") / col("ngrams"))
      .select("doc_id", "bench_id", "ngrams", "overlap", "frac")
  }

  /** Gopher within-document duplicate-line statistics (Rae et al. 2021
    * appendix A1.1: "duplicate line fraction" and "duplicate line character
    * fraction" — pages whose dup-line fraction exceeds 0.30 or dup-char
    * fraction exceeds 0.20 are filtered). Returns a struct of exact LONG
    * counts `(total_lines, dup_lines, total_chars, dup_chars)` — a line
    * occurrence beyond its first is a duplicate; char totals exclude the
    * separators; fractions are left to the caller so the integers stay
    * oracle-checkable (the [[bigramRepetitionStats]] contract).
    *
    * Per-row primitive-loop kernel (one hash map per doc), no shuffle —
    * this is the WITHIN-doc sibling of the corpus-level
    * [[graft.dedup.Dedup.dedupLines]]. `sep` is treated literally
    * (Pattern.quote), trailing empty lines count. */
  def dupLineStats(text: Column, sep: String = "\n"): Column = {
    val sp = java.util.regex.Pattern.quote(sep)
    val u = udf { (s: String) =>
      if (s == null) (0L, 0L, 0L, 0L)
      else {
        val lines = s.split(sp, -1)
        val seen = new java.util.HashMap[String, Long]()
        var dupL = 0L; var dupC = 0L; var totC = 0L
        var i = 0
        while (i < lines.length) {
          val ln = lines(i)
          // code POINTS, not UTF-16 units: SQL length() counts an emoji as
          // 1 — ln.length would count 2 and diverge from the q94 oracle on
          // any supplementary-plane text
          val chars = ln.codePointCount(0, ln.length).toLong
          totC += chars
          val c = seen.merge(ln, 1L, (a, b) => a + b)
          if (c > 1L) { dupL += 1; dupC += chars }
          i += 1
        }
        (lines.length.toLong, dupL, totC, dupC)
      }
    }
    u(text).cast(
      "struct<total_lines:bigint,dup_lines:bigint,total_chars:bigint,dup_chars:bigint>")
  }

  /** CCNet-style unigram language-model quality score: per-document mean
    * negative log-likelihood of its tokens under an add-one-smoothed
    * unigram model trained on `ref` (lower = more reference-like; filtering
    * the high tail is the classic LM quality filter — Wenzek et al. 2020
    * use a 5-gram KenLM, the unigram variant is its distributable
    * first-order sibling). p(t) = (c(t)+1)/(N+V+1) with c(t) the reference
    * count, N total reference tokens, V vocabulary size; out-of-vocabulary
    * tokens get the +1 floor. Tokenization = [[tokens]] on both sides.
    *
    * Scale shape: the model is ONE token-keyed aggregation over the
    * reference (map-side combined); N and V are a bounded 2-long driver
    * read off the already-aggregated model, injected as literals so the
    * scoring plan stays a single join + agg. The scoring pass explodes doc
    * tokens once, joins the model (broadcast under AQE when the vocab is
    * small; shuffle-hash otherwise — both sides are already keyed by
    * token), and reduces with a map-side-combinable avg. Zero-token docs
    * (null text) produce no rows, by construction of explode.
    * Output: (id, ntok, score) — score unrounded; callers comparing across
    * engines should round (see q79). */
  def unigramLogProb(
      docs: DataFrame,
      text: Column,
      id: Column,
      ref: DataFrame,
      refText: Column
  ): DataFrame = {
    val model = ref
      .select(explode(tokens(refText)).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("c"))
    val head = model.agg(coalesce(sum("c"), lit(0L)), count(lit(1))).head()
    val denom = (head.getLong(0) + head.getLong(1) + 1L).toDouble
    docs
      .select(id.cast("long").as("id"), explode(tokens(text)).as("tok"))
      .join(model, Seq("tok"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("ntok"),
        avg(-log((coalesce(col("c"), lit(0L)) + lit(1.0)) / lit(denom))).as("score"))
  }

  /** Add-one-smoothed BIGRAM LM score — the KenLM-shaped step up from
    * [[unigramLogProb]] (CCNet's actual filter is an n-gram LM; the
    * bigram is the smallest model where word ORDER moves the score):
    * score = avg over the doc's adjacent token pairs of
    * −ln((c₂(p,t)+1)/(c₁(p)+V)), with c₂/c₁ counted on `ref` and V =
    * ref vocabulary + 1 (the OOV slot). Everything is codegen'd
    * (slice + arrays_zip pair expansion, no UDF); the pair/unigram
    * count tables are vocabulary²-bounded and join back on token keys
    * (broadcast under AQE for real vocabularies); one bounded driver
    * action reads V. Docs with <2 tokens emit no row.
    * Output: (id, npairs, score) — round before cross-engine compares
    * (ln, like q79). */
  def bigramLogProb(
      docs: DataFrame,
      text: Column,
      id: Column,
      ref: DataFrame,
      refText: Column
  ): DataFrame = {
    def pairs(t: Column): Column = {
      val tk = tokens(t)
      arrays_zip(slice(tk, lit(1), size(tk) - 1), slice(tk, lit(2), size(tk) - 1))
    }
    val refPairs = ref.select(explode(pairs(refText)).as("pr"))
      .select(col("pr.0").as("p"), col("pr.1").as("t"))
    val c2 = refPairs.groupBy("p", "t").agg(count(lit(1)).as("c2"))
    val c1 = ref.select(explode(tokens(refText)).as("p"))
      .groupBy("p").agg(count(lit(1)).as("c1"))
    val v = c1.count() + 1L // vocab + OOV slot — bounded driver action
    docs.select(id.cast("long").as("id"), explode(pairs(text)).as("pr"))
      .select(col("id"), col("pr.0").as("p"), col("pr.1").as("t"))
      .join(c2, Seq("p", "t"), "left")
      .join(c1, Seq("p"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("npairs"),
        avg(-log((coalesce(col("c2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + lit(v.toDouble)))).as("score"))
  }

  /** Encode documents to TOKEN IDS against a frequency-ranked word
    * vocabulary — the tokenizer-apply step between curation and sequence
    * packing (ids are what [[graft.stats.Packing]]'s bins ultimately
    * carry): vocab = the `vocabSize` most frequent `ref` tokens ranked
    * (count desc, token asc), id = rank (1-based), everything else = 0
    * (the UNK id). One corpus explode joined to the vocabulary-bounded
    * rank table (broadcast under AQE), reassembled in token order with a
    * deterministic sort-within-group — no UDF anywhere.
    * Output: (id, ids array<long> in document order, ntok, oov). Docs
    * with no tokens emit no row. */
  def tokenIds(
      docs: DataFrame,
      text: Column,
      id: Column,
      ref: DataFrame,
      refText: Column,
      vocabSize: Int
  ): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be positive: $vocabSize")
    import org.apache.spark.sql.expressions.Window
    // top-k first, rank after: `tok` is unique after the groupBy, so the
    // ranks of the top `vocabSize` rows are the full ranking's, and the
    // single-partition window sees at most `vocabSize` rows
    val byRank = Seq(col("c").desc, col("tok"))
    val vocab = ref.select(explode(tokens(refText)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(byRank: _*).limit(vocabSize)
      .withColumn("tid", row_number().over(Window.orderBy(byRank: _*)).cast("long"))
      .select("tok", "tid")
    docs.select(id.cast("long").as("id"), posexplode(tokens(text)).as(Seq("pos", "tok")))
      .join(vocab, Seq("tok"), "left")
      .select(col("id"), col("pos"), coalesce(col("tid"), lit(0L)).as("tid"))
      .groupBy("id")
      .agg(
        array_sort(collect_list(struct(col("pos"), col("tid")))).as("_pt"),
        count(lit(1)).cast("long").as("ntok"),
        sum((col("tid") === 0L).cast("long")).as("oov"))
      // array-of-struct field extraction is a NATIVE GetArrayStructFields
      // (codegen'd) — no HOF in the reassembly
      .select(col("id"), col("_pt.tid").as("ids"), col("ntok"), col("oov"))
  }

  // ---------------------------------------------------------------------
  // PII screening (corpus-curation: detect / redact before training)
  // ---------------------------------------------------------------------

  /** PII patterns, deliberately RE2-compatible (no lookaround, no
    * backreferences) so the identical pattern runs in Spark's Java regex,
    * RE2-based engines, and the DuckDB oracle. Standard public shapes:
    * email, dotted-quad IPv4, NANP-style phone, US SSN. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    "phone" -> "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b",
    "ssn" -> "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  )

  /** Per-doc PII hit counts, one codegen'd `regexp_count` per pattern in a
    * single projection — one pass over the text column, no UDF, no shuffle.
    * Order matters downstream: an SSN also matches the phone shape only if
    * patterns overlap — these four are disjoint on real text except
    * SSN⊂nothing (phone requires 3-3-4 digits, SSN is 3-2-4). */
  def piiCounts(text: Column): Seq[(String, Column)] =
    piiPatterns.map { case (name, pat) => name -> regexp_count(text, lit(pat)) }

  /** Scan a corpus for PII: (id, <one count column per pattern>), docs with
    * at least one hit. A 100-TB scan is a single filtered projection —
    * pushdown-friendly, and the count columns make triage/reporting free. */
  def piiScan(corpus: DataFrame, text: Column, id: Column): DataFrame = {
    val counts = piiCounts(text)
    val out = corpus.select(
      (id.as("doc_id") +: counts.map { case (n, c) => c.cast("long").as(s"${n}_count") }): _*)
    out.filter(counts.map(n => col(s"${n._1}_count") > 0).reduce(_ || _))
  }

  /** Redact PII in place: each pattern replaced by its `<TYPE>` tag, chained
    * codegen'd `regexp_replace`s (global by default in Spark). Replacement
    * order is the declaration order — SSN before phone would not matter for
    * these disjoint shapes, but the order is fixed so output is stable. */
  def piiRedact(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (name, pat)) =>
      regexp_replace(c, pat, s"<${name.toUpperCase}>")
    }

  /** Encoding-health scan — the mojibake/corruption triage a web corpus
    * needs before any text kernel trusts the bytes: per doc, counts of
    * U+FFFD replacement characters (a decoder already gave up), C1
    * control characters U+0080–U+009F (the classic latin-1/cp1252
    * double-decode signature), and non-ASCII code points (the
    * denominator for a "suspicious density" rule). Pure codegen'd
    * regexp_count/regexp_replace chain — one projection, no UDF, no
    * shuffle, RE2-and-Java-compatible patterns (the piiCounts
    * discipline). */
  def encodingStats(text: Column): Column = struct(
    regexp_count(text, lit("\\uFFFD")).cast("long").as("repl"),
    regexp_count(text, lit("[\\u0080-\\u009F]")).cast("long").as("c1"),
    (length(text) - length(regexp_replace(text, "[^\\u0000-\\u007F]", "")))
      .cast("long").as("non_ascii")
  )

  /** Linear bag-of-words quality scorer — the shape of the fastText-style
    * classifiers big pipelines use for quality filtering (CCNet's
    * wiki-vs-crawl LM proxy, LLaMA's wiki-reference classifier): score =
    * Σ w(token) over the doc's whitespace tokens, OOV weight 0, INTEGER
    * weights so the score is exact and any SQL oracle restates it
    * verbatim (a trained float model plugs in by quantizing its weights —
    * the [[graft.ann.KMeans.fixedPoint]] discipline). Primitive-loop
    * kernel, one pass, no shuffle; null text → null score. */
  def linearScore(text: Column, weights: Map[String, Int]): Column = {
    require(weights.nonEmpty, "weights must be non-empty")
    val wm = weights
    val u = udf { (s: String) =>
      if (s == null) null.asInstanceOf[java.lang.Long]
      else {
        val toks = s.trim.split("\\s+")
        var i = 0; var acc = 0L
        while (i < toks.length) { acc += wm.getOrElse(toks(i), 0); i += 1 }
        java.lang.Long.valueOf(acc)
      }
    }
    u(text)
  }

  /** C4-style blocklist flag count: the number of DISTINCT blocklist
    * terms present among the doc's whitespace tokens (the "List of Dirty,
    * Naughty, Obscene…" word filter of C4, Raffel et al. 2020 §2.2 —
    * any match drops the doc; the count says how bad). One codegen'd
    * projection (lower + split + array_intersect), no UDF, no shuffle —
    * the term list rides the plan as a literal array, and a SQL
    * list_intersect restates the distinct-match count exactly. */
  def blocklistFlags(text: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty, "terms must be non-empty")
    // fold the TERMS too: tokens come from lower(text), so an uppercase
    // blocklist entry could otherwise never match (and 'Spam'/'spam'
    // would survive distinct as a duplicate pair)
    size(array_intersect(
      lit(terms.map(_.toLowerCase).distinct.toArray),
      split(trim(lower(text)), "\\s+")))
  }

  // ---------------------------------------------------------------------
  // Composite curation verdict (the C4-style keep/drop filter)
  // ---------------------------------------------------------------------

  /** The keep/drop decision a C4-style curation pipeline makes per doc,
    * as ONE projection over the existing kernels: token-count bounds,
    * stopword floor (integer arithmetic — `stopwords × 20 < tokens` is
    * ratio < 5% without a float in sight, so any SQL oracle restates it
    * exactly), dominant-bigram repetition (top > 20% of bigrams), and PII
    * presence. Output (doc_id, reasons) for flagged docs only; reasons is
    * a deterministic comma-joined string. Codegen'd except the bigram and
    * stopword kernels (primitive-loop UDFs in the same pass — never
    * interpreted Catalyst HOFs); no shuffle. */
  def curationVerdicts(
      corpus: DataFrame,
      text: Column,
      id: Column,
      minTokens: Int = 30,
      maxTokens: Int = 10000
  ): DataFrame = {
    val n = tokenCount(text)
    val rep = bigramRepetitionStats(text)
    val anyPii = piiCounts(text).map(_._2 > 0).reduce(_ || _)
    corpus
      .select(id.as("doc_id"),
        concat_ws(",",
          when(n < minTokens, lit("too-short")),
          when(n > maxTokens, lit("too-long")),
          when(stopwordCount(text) * 20 < n, lit("low-stopword")),
          when(rep.getField("top") * 5 > rep.getField("total"), lit("repetitive")),
          when(anyPii, lit("has-pii"))).as("reasons"))
      .filter(col("reasons") =!= "")
  }

  /** Split documents into consecutive `budget`-token chunks — the upstream
    * companion of [[graft.stats.Packing.assignBins]] (whose contract says
    * "callers split oversized docs upstream"; this is that operator).
    * Tokenization matches [[tokenCount]] (whitespace split of the trimmed
    * text); chunks rejoin with single spaces, so a chunk's [[tokenCount]]
    * is exactly `budget` except the last. Per-row primitive-loop kernel,
    * no shuffle (posexplode is pipelined); null text yields no rows.
    * Output: (id, chunk, text) with chunk 0-based. */
  def splitOversized(df: DataFrame, text: Column, id: Column, budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val b = budget
    val chunksU = udf { (s: String) =>
      if (s == null) Seq.empty[String]
      else s.trim.split("\\s+").grouped(b).map(_.mkString(" ")).toSeq
    }
    df.select(id.cast("long").as("id"), posexplode(chunksU(text)).as(Seq("chunk", "text")))
      .withColumn("chunk", col("chunk").cast("long"))
  }

  /** Top-k corpus-wide PHRASES (word n-grams) by containing-document
    * count — the boilerplate-discovery diagnostic: the phrases this
    * surfaces are exactly what line/span dedup ([[graft.dedup.Dedup]])
    * should be deleting, and a spot-check of its output against the
    * corpus is how a curation run validates its dedup configuration.
    *
    * Exact counts: [[wordShingles]] dedupes within each doc, so one
    * map-side-combinable groupBy counts documents per phrase, and the
    * top-k is a TakeOrdered (cnt desc, phrase asc — deterministic under
    * ties). This is the word-count shuffle shape — linear in corpus
    * grams; when the phrase inventory is too hot for exact counting,
    * [[graft.stats.ColumnStats.heavyHitters]] over the same exploded
    * column is the cardinality-independent (approximate) sibling. */
  def topPhrases(corpus: DataFrame, text: Column, n: Int = 3, k: Int = 10): DataFrame =
    corpus
      .select(explode(wordShingles(text, n)).as("phrase"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("docs"))
      .orderBy(col("docs").desc, col("phrase"))
      .limit(k)

  /** Per-document most-DISTINCTIVE term: argmax over the doc's tokens of
    * `tf / df` — term frequency × inverse document frequency in its
    * rational (un-logged) form. The log-idf variant (`tf·ln(N/df)`) is a
    * caller substitution; the rational form is used here because every
    * step is exact cross-engine (integer counts + one correctly-rounded
    * IEEE division), so a SQL oracle restates it verbatim, while `ln` is
    * not guaranteed identically rounded across libm implementations.
    *
    * Shape: this is the inverted-index build. One explode over the corpus
    * (linear), a map-side-combinable (doc, token) count, a token-keyed
    * document-frequency aggregate over the ALREADY-distinct (doc, token)
    * pairs (vocabulary-sized — broadcast-joins back under AQE), and a
    * per-doc argmax window whose partitions are single-document-sized
    * (no skew: a doc's distinct-token count is bounded by its length).
    * Ties break (score desc, token asc) — deterministic.
    *
    * Output: (doc_id, tok, tf, df, score). Null/empty docs emit no row. */
  def distinctiveTerms(corpus: DataFrame, text: Column, id: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = corpus
      .select(id.cast("long").as("doc_id"), explode(tokens(text)).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok"))
    tf.join(df, Seq("tok"))
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
      .select("doc_id", "tok", "tf", "df", "score")
  }

  /** Cross-source vocabulary overlap card — exact pairwise Jaccard of the
    * DISTINCT-token vocabularies of every pair of sources: the corpus-diff
    * view a data-mixing team reads before weighting sources (two crawls
    * with 0.9 vocab Jaccard are near-redundant; a 0.05 pair adds genuine
    * diversity). Output one row per unordered source pair:
    * (src_a, src_b, v_a, v_b, inter, jaccard) with
    * jaccard = inter / (v_a + v_b − inter) — integer counts plus ONE
    * correctly-rounded IEEE division, so a SQL oracle restates the card
    * bit-for-bit. Pairs with zero overlap are kept (inter = 0).
    *
    * Scale shape: everything after the first aggregate is
    * VOCABULARY-bounded, never corpus-bounded. One explode + distinct
    * collapses the corpus to (token, source) membership (map-side
    * combinable); per-token source sets then expand to at most
    * |S|²/2 pairs per token (|S| = source count, small by premise — this
    * is a per-PAIR card, quadratic in sources by definition); the final
    * per-pair count and the |S|-sized size table broadcast-join. No
    * all-pairs document work anywhere. */
  def sourceVocabOverlap(corpus: DataFrame, text: Column, source: Column): DataFrame = {
    val ts = corpus
      .filter(trim(text) =!= "")
      .select(source.as("src"), explode(tokens(text)).as("t"))
      .distinct()
    val sizes = ts.groupBy("src").agg(count(lit(1)).as("v"))
    val inter = ts
      .groupBy("t").agg(collect_set(col("src")).as("ss"))
      .select(explode(col("ss")).as("a"), col("ss"))
      .select(col("a"), explode(col("ss")).as("b"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    sizes.as("s1")
      .crossJoin(sizes.as("s2"))
      .filter(col("s1.src") < col("s2.src"))
      .join(inter, col("s1.src") === col("a") && col("s2.src") === col("b"), "left")
      .select(
        col("s1.src").as("src_a"), col("s2.src").as("src_b"),
        col("s1.v").as("v_a"), col("s2.v").as("v_b"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        (coalesce(col("inter"), lit(0L)).cast("double") /
          (col("s1.v") + col("s2.v") - coalesce(col("inter"), lit(0L))).cast("double"))
          .as("jaccard"))
  }

  /** One BPE-style merge-candidate counting round: corpus-wide counts of
    * adjacent CHARACTER pairs within words, weighted by word frequency —
    * the inner loop of byte-pair-encoding tokenizer training (Sennrich et
    * al. 2016). Returns the top-k pairs by (count desc, pair asc).
    *
    * The 100-TB design point is the ORDER of aggregation: the corpus is
    * first collapsed to its distinct-word frequency table (the classic
    * word-count shuffle — map-side combinable, vocabulary-sized output),
    * and only then are character pairs expanded, over DISTINCT words
    * only. Pair expansion over raw tokens would scale with corpus size;
    * over the word table it scales with vocabulary size — orders of
    * magnitude smaller on natural text, and the reason real BPE trainers
    * all maintain a word-frequency dict. The per-word pair kernel is a
    * primitive-loop UDF (per the repo's measured HOF-vs-UDF discipline);
    * it runs on the small side. */
  def bpeMergePairs(corpus: DataFrame, text: Column, k: Int = 20): DataFrame = {
    val words = corpus
      .select(explode(tokens(text)).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("c"))
    val pairsU = udf { (s: String) =>
      if (s == null || s.length < 2) Seq.empty[String]
      else {
        val out = new Array[String](s.length - 1)
        var i = 0
        while (i < s.length - 1) { out(i) = s.substring(i, i + 2); i += 1 }
        out.toSeq
      }
    }
    words
      .select(explode(pairsU(col("w"))).as("pair"), col("c"))
      .groupBy("pair")
      .agg(sum(col("c")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
  }

  // ---------------------------------------------------------------------
  // URL / domain extraction (web-corpus provenance + domain filtering)
  // ---------------------------------------------------------------------

  /** One capture group = the host; RE2-and-Java compatible like
    * [[piiPatterns]]. */
  val urlDomainPattern = "https?://([A-Za-z0-9.-]+)"

  /** (doc_id, domain) for every URL occurrence — a codegen'd
    * regexp_extract_all + explode, one pass over the text column. */
  def urlDomains(corpus: DataFrame, text: Column, id: Column): DataFrame =
    corpus.select(
      id.as("doc_id"),
      explode(regexp_extract_all(text, lit(urlDomainPattern), lit(1))).as("domain"))

  /** Per-domain distinct-document counts — the standard web-corpus curation
    * aggregate (domain blocklists, per-domain caps, provenance reports).
    * One shuffle on the domain key with map-side partial aggregation. */
  def topDomains(corpus: DataFrame, text: Column, id: Column): DataFrame =
    urlDomains(corpus, text, id)
      .groupBy("domain")
      .agg(countDistinct(col("doc_id")).as("docs"))

  /** Canonical URL — the normalization every URL-keyed web dedup runs first
    * (C4 keeps one page per URL; crawl frontiers canonicalize before
    * enqueueing): scheme+host lowercased, a leading `www.` dropped, the
    * default port (`:80` http / `:443` https) dropped, query string and
    * fragment dropped entirely (the scheme+host+path canonical form —
    * tracking params make per-param surgery a losing game), and a trailing
    * slash dropped. Pure codegen'd regexp chain, one projection, no UDF;
    * every pattern is RE2-and-Java compatible (no lookaround) so a SQL
    * oracle restates the chain verbatim. Strings without an http(s) scheme
    * pass through with only query/fragment/trailing-slash trimmed. URLs are
    * assumed single-line (`.*` stops at a newline in both engines). */
  def canonicalizeUrl(url: Column): Column = {
    val noQf = regexp_replace(url, "[?#].*", "")
    // lower() covers scheme AND host in one move; path case is significant
    val schemeHost = "(?i)^(https?://[^/]*)"
    val joined = concat(
      lower(regexp_extract(noQf, schemeHost, 1)),
      regexp_replace(noQf, schemeHost, ""))
    val noWww = regexp_replace(joined, "^(https?://)www\\.", "$1")
    val noPort = regexp_replace(
      regexp_replace(noWww, "^(http://[^/:]+):80(/|$)", "$1$2"),
      "^(https://[^/:]+):443(/|$)", "$1$2")
    regexp_replace(noPort, "/$", "")
  }

  /** URL-keyed exact dedup: one row per canonical URL with the winning
    * (minimum) id and the duplicate count — provenance-level dedup, the
    * cheapest and first dedup axis of a web pipeline (C4, Raffel et al.
    * 2020 §2.2 keep one page per URL). One shuffle on the canonical-url
    * key with map-side partial aggregation; at 100 TB swap the string key
    * for `xxhash64(curl)` (the q28 fingerprint discipline) to bound the
    * exchange at 8 bytes/row — semantics identical modulo 64-bit hash
    * collisions. */
  def urlDedup(corpus: DataFrame, url: Column, id: Column): DataFrame =
    corpus.select(canonicalizeUrl(url).as("curl"), id.cast("long").as("id"))
      .groupBy("curl")
      .agg(min("id").as("keep_id"), count(lit(1)).as("dups"))

  // ---------------------------------------------------------------------
  // HTML text extraction (the boilerplate-strip step ahead of every
  // text-quality kernel when the corpus is raw crawl HTML)
  // ---------------------------------------------------------------------

  /** Visible text of an HTML payload: script/style blocks and comments
    * removed, all tags stripped, the six ubiquitous character entities
    * decoded (`&amp;` LAST, so `&amp;lt;` yields the literal `&lt;` and
    * never double-decodes), whitespace collapsed and trimmed. A
    * regex-level extractor — the deterministic, distributable core of what
    * trafilatura/jusText do with a DOM; good enough for quality scoring
    * and dedup keys, not a browser. One codegen'd projection (regexp chain
    * + literal `replace`s), no UDF, no shuffle; patterns are RE2-and-Java
    * compatible (inline `(?is)` flags, non-greedy block bodies, no
    * lookaround) so a SQL oracle restates the chain verbatim. */
  def htmlText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  // ---------------------------------------------------------------------
  // Intra-document repetition (Gopher-style quality filters)
  // ---------------------------------------------------------------------

  /** Per-doc token-bigram repetition stats — the classic repetition quality
    * filters (duplicate-n-gram fraction and most-frequent-n-gram fraction,
    * cf. the Gopher/MassiveText rules, public in Rae et al. 2021): a doc
    * dominated by a repeated phrase scores high on both and is dropped
    * before training. Pure per-row kernel (primitive-loop UDF over the
    * token array — no shuffle; a 100-TB scan is one projection). Returns a
    * struct (total, distinct, top) of LONG bigram counts; fractions are
    * left to the caller so the exact integer counts stay oracle-checkable.
    */
  def bigramRepetitionStats(text: Column): Column = {
    val u = udf { (s: String) =>
      if (s == null) (0L, 0L, 0L)
      else {
        val toks = s.trim.split("\\s+")
        if (toks.length < 2) (0L, 0L, 0L)
        else {
          val m = new java.util.HashMap[String, Long]()
          var i = 0
          var top = 0L
          while (i + 2 <= toks.length) {
            val g = toks(i) + " " + toks(i + 1)
            val c = m.merge(g, 1L, (a, b) => a + b)
            if (c > top) top = c
            i += 1
          }
          ((toks.length - 1).toLong, m.size.toLong, top)
        }
      }
    }
    u(text).cast("struct<total:long,distinct:long,top:long>")
  }

  // ---------------------------------------------------------------------
  // DSIR-style importance scoring (target-vs-raw n-gram importance weights)
  // ---------------------------------------------------------------------

  /** One row per unigram AND adjacent-bigram feature of `text`, keyed by the
    * `keep` columns; bigram features are the two tokens joined by one space.
    * Everything codegen'd (slice + arrays_zip + concat_ws, no HOF/UDF); docs
    * whose token array is empty emit nothing, single-token docs emit only
    * their unigram. */
  private def ngramFeatureRows(df: DataFrame, text: Column, keep: Seq[String]): DataFrame = {
    val base = df.select(keep.map(col) :+ text.as("_txt"): _*)
    val tk = tokens(col("_txt"))
    val uni = base.select(keep.map(col) :+ explode(tk).as("f"): _*)
    val bi = base
      .select(keep.map(col) :+ explode(
        arrays_zip(slice(tk, lit(1), size(tk) - 1), slice(tk, lit(2), size(tk) - 1))).as("_pr"): _*)
      .select(keep.map(col) :+ concat_ws(" ", col("_pr.0"), col("_pr.1")).as("f"): _*)
    uni.unionAll(bi)
  }

  /** Hashed-bucket sibling of [[ngramFeatureRows]] for the `buckets > 0`
    * scale path: ONE primitive-loop kernel tokenizes, FNV-1a-hashes each
    * token, and emits every unigram + order-mixed bigram bucket id as a
    * long array — one explode (vs two), 8-byte shuffle keys (vs feature
    * strings), zero bigram string building. Bucket ids are opaque (any
    * deterministic hash is a valid DSIR bucketing), so only the exact
    * string path needs the oracle-restatable codegen chain. Token geometry
    * matches [[tokens]] exactly (trim + `\s+`, empty string → one ""
    * token, null → no rows) so `nfeat` is identical across both paths. */
  private def hashedFeatureRows(df: DataFrame, text: Column, keep: Seq[String], buckets: Int): DataFrame = {
    val b = buckets.toLong
    val u = udf { (s: String) =>
      if (s == null) Array.empty[Long]
      else {
        val tk = s.trim.split("\\s+", -1)
        val n = tk.length
        val out = new Array[Long](2 * n - 1)
        var prev = 0L
        var i = 0
        while (i < n) {
          var h = 0xcbf29ce484222325L
          val t = tk(i)
          var j = 0
          while (j < t.length) { h ^= t.charAt(j); h *= 0x100000001b3L; j += 1 }
          out(i) = java.lang.Math.floorMod(h, b)
          if (i > 0)
            out(n + i - 1) = java.lang.Math.floorMod(
              prev * 0x9e3779b97f4a7c15L ^ java.lang.Long.rotateLeft(h, 31), b)
          prev = h
          i += 1
        }
        out
      }
    }
    df.select(keep.map(col) :+ explode(u(text)).as("f"): _*)
  }

  private def featureRows(df: DataFrame, text: Column, keep: Seq[String], buckets: Int): DataFrame =
    if (buckets <= 0) ngramFeatureRows(df, text, keep)
    else hashedFeatureRows(df, text, keep, buckets)

  /** DSIR-style importance score (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-document
    * log-importance weight of a TARGET distribution (e.g. wiki/books)
    * against the RAW crawl distribution, under add-one-smoothed bag-of-
    * n-gram (unigram + bigram) multinomials:
    *
    *   score(doc) = Σ_f c_f · [ ln((t_f+1)/(T+V)) − ln((r_f+1)/(R+V)) ]
    *
    * with t_f/r_f the feature counts in target/raw, T/R their totals, and
    * V = |union vocabulary| + 1 (the OOV slot). High scores = target-like
    * docs; resampling keeps the top of the distribution. OOV features get
    * the same expression at t=r=0 — the arithmetic is one shared formula,
    * so a SQL oracle restates it verbatim (round before cross-engine
    * compares — ln, like q79).
    *
    * `buckets = 0` keeps exact string features — the oracle path, and fine
    * whenever the n-gram vocabulary fits a shuffle (it is corpus-bounded,
    * not doc-bounded). `buckets > 0` is THE DSIR scale move: features hash
    * into a fixed-size table ([[hashedFeatureRows]]: one primitive-loop
    * kernel, one explode, 8-byte bucket-id shuffle keys), so the model is
    * exactly `buckets` rows — broadcastable at any corpus size — and the
    * scoring pass is one explode + broadcast join + map-side-combinable
    * sum, no matter how large the raw side grows. Hashing only coarsens
    * the estimate (collisions pool counts), it never changes the shape.
    *
    * Scale shape: two feature-keyed count aggregations (map-side combined)
    * build the model; ONE bounded driver action reads (T, R, V); scoring
    * explodes the corpus once and joins the model (broadcast under AQE —
    * always, when bucketed). Output: (id, nfeat, score), docs with no
    * tokens emit no row. */
  def dsirScore(
      docs: DataFrame,
      text: Column,
      id: Column,
      target: DataFrame,
      targetText: Column,
      raw: DataFrame,
      rawText: Column,
      buckets: Int = 0
  ): DataFrame = {
    val tf = featureRows(target, targetText, Nil, buckets)
      .groupBy("f").agg(count(lit(1)).as("t"))
    val rf = featureRows(raw, rawText, Nil, buckets)
      .groupBy("f").agg(count(lit(1)).as("r"))
    val model = tf.join(rf, Seq("f"), "full_outer")
      .select(col("f"), coalesce(col("t"), lit(0L)).as("t"), coalesce(col("r"), lit(0L)).as("r"))
    val head = model.agg(
      coalesce(sum("t"), lit(0L)), coalesce(sum("r"), lit(0L)), count(lit(1))).head()
    val tDen = (head.getLong(0) + head.getLong(2) + 1L).toDouble
    val rDen = (head.getLong(1) + head.getLong(2) + 1L).toDouble
    // the SAME expression covers in-vocab and OOV rows (t/r coalesce to 0
    // after the left join) — one formula, oracle-restatable verbatim
    val w = log((coalesce(col("t"), lit(0L)) + lit(1.0)) / lit(tDen)) -
      log((coalesce(col("r"), lit(0L)) + lit(1.0)) / lit(rDen))
    featureRows(docs.select(id.cast("long").as("id"), text.as("_t")), col("_t"), Seq("id"), buckets)
      .join(model, Seq("f"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("nfeat"), sum(w).as("score"))
  }

  // ---------------------------------------------------------------------
  // Character-level entropy (compression-proxy quality signal)
  // ---------------------------------------------------------------------

  /** Shannon entropy (nats) of the character distribution of `text`:
    * H = ln(L) - (sum_c n_c ln n_c) / L over Unicode code points. A cheap
    * compressibility proxy quality filters use alongside the token-level
    * signals: binary junk and base64 blobs score HIGH (near-uniform bytes),
    * repeated-character spam scores near 0, natural language sits ~2.9-3.1
    * for English. Primitive-loop kernel (one HashMap of code-point counts
    * per row, no shuffle); null or empty text yields null. The exact
    * formula is restated verbatim by a SQL oracle (per-codepoint unnest +
    * group-count), with ln rounded before cross-engine compares (the q79
    * discipline). */
  def charEntropy(text: Column): Column = {
    val u = udf { (s: String) =>
      if (s == null || s.isEmpty) null
      else {
        val counts = new java.util.HashMap[Integer, Long]()
        var i = 0
        var n = 0L
        while (i < s.length) {
          val cp = s.codePointAt(i)
          counts.merge(cp, 1L, _ + _)
          i += Character.charCount(cp)
          n += 1
        }
        var acc = 0.0
        val it = counts.values().iterator()
        while (it.hasNext) { val c = it.next().toDouble; acc += c * math.log(c) }
        java.lang.Double.valueOf(math.log(n.toDouble) - acc / n)
      }
    }
    u(text)
  }

  // ---------------------------------------------------------------------
  // Zipf rank-frequency fit (corpus-health data-card statistic)
  // ---------------------------------------------------------------------

  /** Least-squares slope + intercept of ln(freq) against ln(rank) over the
    * corpus vocabulary — the Zipf fit every corpus data card quotes (clean
    * natural-language corpora sit near slope -1; template/boilerplate-heavy
    * crawl drifts shallower, token-salad junk steeper). Rank = position in
    * (freq DESC, token ASC) order, 1-based and deterministic.
    *
    * Scale shape: one map-side-combined token count builds the vocabulary
    * table, then the global rank is the row count of the
    * [[graft.stats.PrefixScan]] over (freq DESC, token ASC); each partition
    * returns its least-squares partial sums, added up on the driver in
    * partition order. No single-partition global window anywhere (the
    * freq-partitioned-window alternative dies on the freq=1 long tail,
    * which holds most of any real vocabulary). Output is ONE row:
    * (vocab, tokens, slope, intercept), slope/intercept from the explicit
    * sum formula so a SQL oracle restates it verbatim. */
  def zipfFit(docs: DataFrame, text: Column): DataFrame = {
    val freq = docs
      .filter(trim(text) =!= "")
      .select(explode(tokens(text)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("f"))
    val scan = graft.stats.PrefixScan(freq, Seq(col("f").desc, col("t").asc), 2) { (r, acc) =>
      acc(0) += 1
      acc(1) += r.getLong(1)
    }
    val Array(n, tok) = scan.totals
    require(n >= 2, s"zipfFit needs at least 2 vocabulary entries: $n")
    val sums = scan.pass { (off, it) =>
      var r = off(0)
      var sx = 0.0; var sy = 0.0; var sxy = 0.0; var sxx = 0.0
      while (it.hasNext) {
        r += 1
        val x = math.log(r.toDouble)
        val y = math.log(it.next().getLong(1).toDouble)
        sx += x; sy += y; sxy += x * y; sxx += x * x
      }
      Iterator((sx, sy, sxy, sxx))
    }.collect()
    val sx = sums.map(_._1).sum; val sy = sums.map(_._2).sum
    val sxy = sums.map(_._3).sum; val sxx = sums.map(_._4).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    import docs.sparkSession.implicits._
    Seq((n, tok, slope, intercept)).toDF("vocab", "tokens", "slope", "intercept")
  }

  // ---------------------------------------------------------------------
  // BPE vocabulary training (iterative merge loop over the word table)
  // ---------------------------------------------------------------------

  /** Trains a BPE merge list (Sennrich et al. 2016) distributively: the
    * corpus is tokenized ONCE into a DISTINCT-word frequency table
    * (vocabulary-bounded — the q108 insight), words become space-separated
    * symbol sequences, and each merge step is (a) one map-side-combined
    * pair-count aggregation over that bounded table, (b) ONE single-row
    * driver action (the argmax pair, ties broken lexicographically), and
    * (c) one codegen'd literal `replace` projection applying the merge.
    * The corpus is never touched again after step 0 — at 100 TB the loop
    * runs on a table the size of the vocabulary, exactly how production
    * BPE trainers batch it.
    *
    * Symbol encoding: single pad space at each end, TWO spaces between
    * symbols (`" l  o  w "`). A merge (p1, p2) is then the literal
    * replacement `" p1  p2 " -> " p1p2 "` — each symbol owns one space on
    * each side, so the merged token inherits its neighbours' shared
    * boundary, adjacent merge sites stay independent (greedy left-to-right
    * non-overlapping, the standard BPE apply), and a symbol can never
    * false-match inside a longer symbol. Literal `replace` scans
    * left-to-right non-overlapping in BOTH the JVM and every SQL engine,
    * so an unrolled CTE oracle reproduces the training bit-for-bit.
    *
    * Pair counts weight every adjacent occurrence (overlaps included), the
    * standard counting rule. Output: (step, pair, cnt) for up to `merges`
    * steps, `pair` in "p1 p2" display form; stops early if no pair is
    * left. `localCheckpoint` truncates the lineage each step so the plan
    * stays flat across iterations. */
  def bpeTrain(corpus: DataFrame, text: Column, merges: Int = 8): DataFrame = {
    require(merges >= 1 && merges <= 1000, s"merges out of range: $merges")
    val spark = corpus.sparkSession
    import spark.implicits._
    val toSym = udf { (w: String) =>
      val sb = new java.lang.StringBuilder(w.length * 3 + 2)
      sb.append(' ')
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        sb.appendCodePoint(cp)
        sb.append(' ').append(' ')
        i += Character.charCount(cp)
      }
      sb.setLength(sb.length - 1)
      sb.toString
    }
    val pairsU = udf { (sym: String) =>
      val tk = sym.trim.split("  ")
      if (tk.length < 2) Seq.empty[String]
      else {
        val out = new Array[String](tk.length - 1)
        var i = 0
        while (i < tk.length - 1) { out(i) = tk(i) + " " + tk(i + 1); i += 1 }
        out.toSeq
      }
    }
    var words = corpus
      .filter(trim(text) =!= "")
      .select(explode(tokens(text)).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(toSym(col("w")).as("sym"), col("c"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    var step = 0
    var done = false
    while (step < merges && !done) {
      val top = words
        .select(explode(pairsU(col("sym"))).as("pair"), col("c"))
        .groupBy("pair").agg(sum("c").as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val pair = top(0).getString(0)
        out += (((step + 1).toLong, pair, top(0).getLong(1)))
        val Array(p1, p2) = pair.split(" ", 2)
        words = words
          .select(replace(col("sym"),
            lit(" " + p1 + "  " + p2 + " "), lit(" " + p1 + p2 + " ")).as("sym"), col("c"))
        // cut the replace chain every 8 merges instead of every merge (r6):
        // one job per merge (the top-pair collect) instead of two, with the
        // re-executed chain bounded at 8 codegen'd literal replaces over
        // the vocab-bounded word table — at the documented 1000-merge cap
        // the chain work stays O(8·vocab) per round, not O(merges·vocab)
        if ((step + 1) % 8 == 0 && step + 1 < merges) words = words.localCheckpoint()
      }
      step += 1
    }
    out.toSeq.toDF("step", "pair", "cnt")
  }

  /** Symbol-encodes a whole document for [[bpeApply]]: each word's code
    * points joined by TWO spaces (the [[bpeTrain]] symbol separator), words
    * joined by THREE spaces, one pad space at each end. A merge's literal
    * pattern `" p1  p2 "` demands exactly-two-space separation, so a pair
    * can never match across the three-space word boundary — applying the
    * merges to the whole encoded document is exactly per-word application,
    * with no explode/reassemble round trip. Per-row primitive-loop kernel
    * (repo invariant: UDF over interpreted Catalyst HOFs). */
  def bpeEncode(text: Column): Column = {
    val enc = udf { (t: String) =>
      if (t == null) null
      else {
      val words = t.trim.split("\\s+")
      val sb = new java.lang.StringBuilder(t.length * 3 + 2)
      sb.append(' ')
      var wi = 0
      var first = true
      while (wi < words.length) {
        val w = words(wi)
        if (w.nonEmpty) {
          if (!first) sb.append(' ').append(' ').append(' ')
          first = false
          var i = 0
          var firstCp = true
          while (i < w.length) {
            val cp = w.codePointAt(i)
            if (!firstCp) sb.append(' ').append(' ')
            firstCp = false
            sb.appendCodePoint(cp)
            i += Character.charCount(cp)
          }
        }
        wi += 1
      }
      sb.append(' ')
      sb.toString
      }
    }
    enc(trim(text))
  }

  /** Applies a trained merge list (pairs in "p1 p2" display form, TRAINING
    * ORDER) to an encoded document — a fold of codegen'd literal `replace`
    * projections, one per merge, over the [[bpeEncode]] symbol string. No
    * UDF in the merge chain and no shuffle: at 100 TB this is a pure
    * whole-stage-codegen scan, the shape a production tokenizer-apply job
    * wants. Greedy left-to-right non-overlapping per merge, identical in
    * the JVM and SQL, so the q122 unrolled-CTE oracle extends to the apply
    * stage verbatim. */
  def bpeApply(enc: Column, merges: Seq[String]): Column =
    merges.foldLeft(enc) { (acc, pair) =>
      val Array(p1, p2) = pair.split(" ", 2)
      replace(acc, lit(" " + p1 + "  " + p2 + " "), lit(" " + p1 + p2 + " "))
    }

  /** Token count of an encoded (and merge-applied) document: symbols never
    * contain spaces, so each token is a maximal non-space run. */
  def bpeTokenCount(enc: Column): Column =
    size(split(trim(enc), "\\s+")).cast("long")
}
