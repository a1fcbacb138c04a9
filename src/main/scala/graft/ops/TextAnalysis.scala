package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Text-analysis operators for large-scale training-data pipelines.
  * All pure `Column` expressions over `functions._` — codegen'd, no UDFs,
  * fully pushdown/prune-friendly, and each with an exact ANSI-SQL
  * equivalent for oracle verification.
  */
object TextAnalysis {

  /** Strip ALL leading/trailing whitespace. Spark's `trim` strips ASCII
    * spaces only, so a document ending in `\n` or `\t` would leave a
    * boundary empty string in every whitespace split — an "" token that
    * silently joins the vocabulary, inflates counts, and (being
    * corpus-frequent) misranks document quality. Every tokenizer here
    * trims through this instead. */
  def wsTrim(text: Column): Column =
    regexp_replace(text, "^\\s+|\\s+$", "")

  /** Whitespace tokenization (split on runs of whitespace). */
  def tokens(text: Column): Column =
    split(wsTrim(text), "\\s+")

  def tokenCount(text: Column): Column =
    // fused byte-scan count ([[graft.functions.TokenCountExpr]]) — same
    // value as size(tokens(wsTrim)) for every input (blank → 0), no regex
    // split, no token array; null text stays null like the old form
    graft.functions.TextFunctions.token_count(text)

  /** BPE-ish sub-word count: tokens are further split on letter/digit/other
    * boundaries, approximating byte-pair segmentation without a vocab. */
  def subwordCount(text: Column): Column =
    when(length(wsTrim(text)) === 0, lit(0L)).otherwise(
      size(split(wsTrim(text),
        "\\s+|(?<=[a-zA-Z])(?=[0-9])|(?<=[0-9])(?=[a-zA-Z])")).cast("long"))

  /** Punctuation character ratio (0 for empty text). */
  def punctRatio(text: Column): Column = {
    val len = length(text)
    when(len === 0, lit(0.0)).otherwise(
      (len - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double")
        / len.cast("double"))
  }

  /** Language marker stopwords (tiny deterministic seed lists; heuristic
    * n-gram/stopword language ID as in standard pipeline practice). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "with"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
    "es" -> Seq("el", "los", "las", "una", "es", "y"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2", "you3"))

  /** How many tokens of `text` appear in `words`. */
  def markerHits(text: Column, words: Seq[String]): Column =
    size(array_intersect(array_distinct(tokens(lower(text))),
      array(words.map(lit): _*))).cast("long")

  /** Distinct-marker-count language ID: the language with the most distinct
    * marker words present wins; zero hits → 'und'. Deterministic tie-break:
    * language name descending (struct-max semantics). */
  def langId(text: Column): Column = {
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      struct(markerHits(text, ws).as("hits"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    // null text → null hits on every language; without the null guard the
    // `=== 0` check is null too and the tie-break would return the
    // lexicographically largest language for a document with no text
    when(best.getField("hits").isNull || best.getField("hits") === 0,
      lit("und"))
      .otherwise(best.getField("lang"))
  }

  /** Stopword ratio against the union of all marker lists. */
  def stopwordRatio(text: Column): Column = {
    val all = langMarkers.values.flatten.toSeq.distinct.sorted
    val t = tokens(lower(text))
    when(size(t) === 0, lit(0.0)).otherwise(
      size(filter(t, x => array_contains(array(all.map(lit): _*), x)))
        .cast("double") / size(t).cast("double"))
  }

  /** Quality score in [0,1]: length band + punctuation + stopword presence
    * (the usual cheap heuristics composed; deterministic). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(200.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    round((lenScore + punctScore + stopScore) / 3.0, 6)
  }

  /** Overlapping token-window chunks — context-window preparation: each
    * doc yields `max(1, ceil((n_tokens - chunkSize)/stride) + 1)` chunks of
    * up to `chunkSize` tokens starting every `stride` tokens (an empty doc
    * yields one empty chunk). Pure built-ins (split/sequence/explode/
    * slice/array_join), so chunking stays inside whole-stage codegen and
    * scales linearly with the corpus — no UDF, no shuffle.
    *
    * @return input plus (chunk_idx, chunk_text) — one row per chunk
    */
  def chunkTokens(df: DataFrame, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(stride > 0 && stride <= chunkSize,
      s"stride must be in [1, chunkSize] (got $stride)")
    // null text is treated like empty text (one empty chunk): without the
    // explicit isNull branch the `when` condition is null, `__arr` is null,
    // and the row's chunk count would hinge on greatest() skipping nulls —
    // an artifact, not a contract
    spreadCompactScan(df) // tokenize+slice is CPU-bound (3x at sf1 starved)
      .withColumn("__arr", when(col(textCol).isNull ||
        length(wsTrim(col(textCol))) === 0,
        array().cast("array<string>")).otherwise(tokens(col(textCol))))
      .withColumn("chunk_idx", explode(sequence(lit(0L),
        greatest(lit(0L), ceil((size(col("__arr")) - lit(chunkSize))
          .cast("double") / lit(stride)).cast("long")))))
      .withColumn("chunk_text", array_join(slice(col("__arr"),
        (col("chunk_idx") * stride + 1).cast("int"), lit(chunkSize)), " "))
      .drop("__arr")
  }

  // ---- Gopher-style repetition signals (the standard pretraining
  // quality rules: fraction of duplicate lines / characters in duplicate
  // lines / characters in the most frequent word n-gram / repeated
  // n-gram occurrences). Per-row metrics are pure codegen'd Columns;
  // only the top-n-gram needs a (doc, gram) aggregation. ----

  /** Trimmed, non-empty lines (null text → no lines). Splits on
    * `\r?\n` so CRLF text never leaves a trailing `\r` on a line —
    * Java's `$` matches before it while RE2's does not, which would
    * silently diverge the terminal-punctuation metric from the SQL
    * oracle. */
  def textLines(text: Column): Column =
    filter(transform(split(coalesce(text, lit("")), "\r?\n"), l => trim(l)),
      l => length(l) > 0)

  /** Lower-cased whitespace words (empty array for blank/null text) —
    * fused byte-scan tokenizer ([[graft.functions.TokensOfExpr]]), no
    * regex split, identical token stream. */
  def words(text: Column): Column =
    graft.functions.TextFunctions.tokens_of(coalesce(text, lit("")))

  /** Word n-grams joined by single spaces (empty when fewer than n
    * words). The gram construction is the codegen'd [[
    * graft.functions.WordShingles]] expression — a declarative
    * `transform(sequence, i -> concat_ws(slice(w, i, n)))` re-evaluates
    * the lambda body's token split PER ELEMENT (quadratic in document
    * length; it cost q73 a 6x slope penalty at the 10x point before
    * this). */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, "n must be >= 1")
    val w = words(text)
    when(size(w) < n, array().cast("array<string>"))
      .otherwise(graft.functions.VectorFunctions.word_shingles(w, n))
  }

  /** Per-document repetition stats: line-level duplicate fractions,
    * repeated 5-gram fraction, and the characters covered by the most
    * frequent word 2-gram as a fraction of total word characters
    * (space-joined; can exceed 1 on pathological overlap — a signal, not
    * a probability). The per-row metrics never shuffle; the top-2-gram
    * pass is one (id, gram) aggregation plus a per-document window —
    * group sizes are per-document gram counts, bounded by document
    * length, so the shape survives arbitrary corpus scale. Deterministic
    * top-gram tie-break: (count desc, gram asc). */
  def repetitionStats(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // one fused pass ([[graft.functions.RepetitionStatsExpr]]): every
    // metric here is per-DOCUMENT — including the most-frequent-2-gram,
    // which previously rode an explode + two (id, gram) aggregations —
    // so the operator's only possible exchange is the starvation spread
    // (3.3x at sf1 on a 2-split corpus)
    val scanned = spreadCompactScan(df).select(col(idCol),
      graft.functions.RepetitionFunctions.repetition_stats(
        coalesce(col(textCol), lit(""))).as("__rep"))
    scanned.select(col(idCol),
      col("__rep.n_lines").as("n_lines"),
      col("__rep.dup_line_frac").as("dup_line_frac"),
      col("__rep.dup_line_char_frac").as("dup_line_char_frac"),
      col("__rep.dup_5gram_frac").as("dup_5gram_frac"),
      col("__rep.top_2gram_char_frac").as("top_2gram_char_frac"))
  }

  /** C4-style per-document filter signals — pure per-row Columns, no
    * shuffle anywhere: fraction of lines ending in terminal punctuation,
    * boilerplate/code markers, and mean words per line. Compose with
    * [[repetitionStats]] and [[qualityScore]] for a full curation pass. */
  def c4Flags(df: DataFrame, textCol: String): DataFrame = {
    // one fused codegen pass ([[graft.functions.C4StatsExpr]]) — the
    // declarative form re-split the text three times and ran an
    // interpreted rlike lambda per line
    val scanned = df.withColumn("__c4",
      graft.functions.C4Functions.c4_stats(coalesce(col(textCol), lit(""))))
    scanned
      .withColumn("n_lines", col("__c4.n_lines"))
      .withColumn("terminal_punct_line_frac",
        col("__c4.terminal_punct_line_frac"))
      .withColumn("has_lorem", col("__c4.has_lorem"))
      .withColumn("has_brace", col("__c4.has_brace"))
      .withColumn("mean_words_per_line", col("__c4.mean_words_per_line"))
      .drop("__c4")
  }

  /** Benchmark decontamination — the standard pretraining hygiene pass:
    * flag corpus documents sharing any word n-gram with an evaluation
    * benchmark. The benchmark gram set is distinct + broadcast (eval
    * suites are small by construction — if yours is not, swap the
    * broadcast for a shuffle join, the rest is unchanged); corpus grams
    * explode per document, so the only corpus-sized shuffle is the
    * per-document hit count, whose groups are bounded by document
    * length. Gram identity is case-folded whitespace words.
    *
    * @return one row per corpus document: id, n_grams (distinct grams),
    *         n_contaminated (grams also in the benchmark), contaminated
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val bGrams = benchmark
      .select(explode(wordNgrams(col(textCol), n)).as("__g")).distinct()
      .withColumn("__hit", lit(1L))
    // corpus-side ngram explode is CPU-bound (2.2x at sf1 starved); the
    // benchmark side stays as-is — it collapses into a broadcast
    spreadCompactScan(corpus)
      .select(col(idCol),
        explode_outer(array_distinct(wordNgrams(col(textCol), n))).as("__g"))
      .join(broadcast(bGrams), Seq("__g"), "left")
      .groupBy(idCol)
      .agg(count(col("__g")).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_contaminated"))
      .withColumn("contaminated", col("n_contaminated") > 0)
  }

  /** Benchmark decontamination through a BLOOM FILTER — the petabyte
    * variant of [[decontaminate]]: the benchmark's n-gram set is
    * collapsed to `m` bits ([[Sketches.bloomBits]], SQL-portable md5
    * positions) instead of materializing and broadcasting the gram
    * strings, so the probe side scales to benchmark suites whose gram
    * set would not fit an executor broadcast. Contamination is
    * MAYBE-semantics: false positives at (n_set/m)^k per gram (operate
    * at fill ≤ ~50%), never false negatives — a safe over-flag for a
    * filtering pipeline. The corpus-side plan is identical to
    * [[decontaminate]]: distinct grams per document, bit probes against
    * the broadcast bit set, one per-document count shuffle.
    *
    * @return one row per corpus document: id, n_grams,
    *         n_maybe_contaminated, contaminated (maybe-present)
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      m: Int = 1 << 16, k: Int = 4): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(m <= (1 << 27), "m above 2^27 would collect a >16 MB mask " +
      "to the driver — use a coarser filter or shard the benchmark")
    val bits = Sketches.bloomBits(
      benchmark.select(explode(wordNgrams(col(textCol), n)).as("__g"))
        .distinct(),
      col("__g"), m, k)
    // THE point of a Bloom filter is an in-memory bitmask: collect the
    // set positions once (≤ m/8 bytes — 8 KB at the default m) into a
    // long[] literal, so the corpus side probes with pure codegen'd bit
    // arithmetic — no position explode, no join, and the only exchange
    // is the map-side-combinable per-document count. (The join-shaped
    // probe benched 17.9 s at the 10x point; this shape ~matches exact
    // decontaminate while never materializing the gram strings.)
    val words = new Array[Long](m / 64 + 1)
    bits.collect().foreach { r =>
      val p = r.getLong(0)
      words((p >> 6).toInt) |= (1L << (p & 63).toInt)
    }
    // the probe is ONE fused per-row pass ([[graft.functions.
    // BloomStatsExpr]]): one native md5 per gram, bit tests against the
    // mask, per-document counts emitted directly — EXCHANGE-FREE on the
    // corpus side (the declarative hex/conv + explode + groupBy form
    // benched 7.6 s warm at the 10x point; q73's exact join is 3.0 s —
    // this form matches it while never materializing the gram strings);
    // the fused pass is CPU-bound, so a compact scan gets the spread
    // (2x at sf1, NOTES round-11)
    spreadCompactScan(corpus).select(col(idCol),
        graft.functions.VectorFunctions.bloom_stats(
          array_distinct(wordNgrams(col(textCol), n)), words, m, k)
          .as("__bs"))
      .select(col(idCol),
        col("__bs").getField("n_grams").as("n_grams"),
        col("__bs").getField("n_maybe").as("n_maybe_contaminated"))
      .withColumn("contaminated", col("n_maybe_contaminated") > 0)
  }

  /** Cross-document duplicated-SPAN detection — the distributed
    * approximation of suffix-array exact-substring deduplication (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"):
    * a word n-gram occurring in at least `minDocs` DISTINCT documents
    * marks a duplicated span position, and per document the operator
    * reports how much of it is cross-corpus duplicated text — including
    * the LONGEST CONSECUTIVE duplicated run (a run of r grams covers
    * r + n - 1 words), the "memorized span" signal used to trim or drop
    * documents whose content is lifted wholesale from elsewhere.
    * Within-document repeats ([[repetitionStats]]) and whole-document
    * near-dups ([[graft.ops.Dedup]]) don't see this: a 200-word license
    * header pasted into thousands of otherwise-distinct documents is
    * exactly a long cross-document duplicated span.
    *
    * Scale shape: gram rows reduce to DISTINCT (doc, gram) pairs before
    * the doc-frequency aggregate and its semi-join, so a corpus-hot gram
    * contributes ≤1 row per document to its join key (the q80 skew
    * rule); the position-level flag join keys on (doc, gram) — no
    * corpus-wide hot key — and the run/window pass partitions by
    * document (group size bounded by document length). No all-pairs
    * anywhere; AQE's skew split applies to the one gram-keyed semi-join.
    *
    * @return one row per document: id, n_grams (gram positions),
    *         dup_grams (positions whose gram appears in ≥ minDocs docs),
    *         dup_frac (rounded 6), max_dup_run (longest consecutive
    *         duplicated gram run, 0 when none)
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Int = 2): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(minDocs >= 2, "minDocs must be >= 2 (a span is duplicated " +
      "when it appears in at least two documents)")
    import org.apache.spark.sql.expressions.Window
    // posexplode_outer keeps gram-less documents (null pos/gram row);
    // the tokenize+explode scan stage is CPU-bound — spread a compact
    // input (1.8x at sf1 on a 2-split corpus, NOTES round-11)
    val g = spreadCompactScan(df).select(col(idCol),
      posexplode_outer(wordNgrams(col(textCol), n)).as(Seq("__pos", "__g")))
    val pd = g.filter(col("__g").isNotNull)
      .select(col(idCol), col("__g")).distinct()
    val dupG = pd.groupBy("__g").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs).select("__g")
    val dupDocGram = pd.join(dupG, Seq("__g"), "left_semi")
      .withColumn("__dup", lit(1))
    val flagged = g.join(dupDocGram, Seq(idCol, "__g"), "left")
    val dupPos = flagged.filter(col("__dup").isNotNull)
      .withColumn("__grp", col("__pos") -
        row_number().over(Window.partitionBy(idCol).orderBy("__pos")))
    val maxRun = dupPos.groupBy(col(idCol), col("__grp"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(idCol).agg(max("__run").as("max_dup_run"))
    flagged.groupBy(idCol)
      .agg(count(col("__pos")).as("n_grams"),
        count(col("__dup")).as("dup_grams"))
      .join(maxRun, Seq(idCol), "left")
      .withColumn("max_dup_run", coalesce(col("max_dup_run"), lit(0L)))
      .withColumn("dup_frac", when(col("n_grams") === 0, lit(0.0))
        .otherwise(round(col("dup_grams").cast("double") /
          col("n_grams").cast("double"), 6)))
  }

  /** Email-address pattern — deliberately restricted to syntax shared by
    * Java regex and RE2 so counts and redactions replay exactly in the
    * SQL oracle. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 pattern (word-bounded; no range check — a
    * redaction pass prefers false positives over leaks). */
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Starvation guard for CPU-bound per-row text passes: these run at
    * ~15-100 MB/s per core, ~100x slower per byte than the parquet scan
    * feeding them, so SIZE-based file splits (128 MB target) undershoot
    * the cluster parallelism on compact inputs and starve the pass to a
    * task or two (measured on q74: 2.3 s of a 2.7 s wall on a one-split
    * corpus that costs 0.3 s of single-thread regex; the same trap cost
    * q22 5x, q60 6x, q63 3x, q71 3.3x at sf1 — NOTES round-11). When
    * the input's natural splits are below the session's parallelism,
    * exchange the narrow rows ONCE (round-robin, never keyed) to spread
    * the work; a many-file 100 TB corpus has splits >= parallelism and
    * skips the exchange entirely.
    *
    * Probing the split count must not RUN anything: under AQE, `toRdd`
    * on a plan containing an exchange materializes every upstream query
    * stage at graph-construction time, and that work is not reused by
    * the later action. So: a plan with a shuffle is already spread to
    * session parallelism (skip); a broadcast-only plan derives the
    * stream side's splits from the leaf scans (no execution); only an
    * exchange-free plan — where toRdd provably runs no job — uses the
    * direct probe.
    *
    * The spread is additionally SIZE-gated on the leaf scans' total
    * file bytes: below `spark.graft.spread.minScanBytes` (default 3 MB
    * compressed) the per-row pass finishes in well under a second on a
    * single core, so the one-time exchange costs more than the
    * starvation it cures (measured at sf0.1, documents.parquet 0.6 MB:
    * q94 +1.5 s, q73 +0.4 s, q108 +0.5 s from the ungated spread; at
    * sf1, 6.8 MB, the spread wins 2-6x — any threshold in [1.5, 5] MB
    * separates the measured points with wide margin). Inputs with no
    * file-scan leaf (in-memory test frames) have unknown bytes and keep
    * the pure split-count behavior. */
  def spreadCompactScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.sparkPlan
    val plannedSplits: Option[Int] =
      if (plan.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]))
        None
      else if (plan.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.exchange.Exchange]))
        Some(plan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.execute().getNumPartitions // leaf scan: builds the RDD, no job
        }.sum)
      else Some(df.queryExecution.toRdd.getNumPartitions)
    plannedSplits match {
      case Some(n) if n > 0 && n < target =>
        val minBytes = df.sparkSession.conf
          .get("spark.graft.spread.minScanBytes", (3L * 1024 * 1024).toString)
          .toLong
        val scanBytes = plan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.sizeInBytes // file-index metadata, no job
        }
        if (scanBytes.nonEmpty && scanBytes.sum < minBytes) df
        else df.repartition(target)
      case _ => df
    }
  }

  /** PII scrubbing — per-row codegen'd regex counts + global
    * replacement, no shuffle anywhere: emails → `[EMAIL]`, IPv4 →
    * `[IP]`. Counts are emitted alongside the redacted text so a
    * pipeline can filter or audit on PII density. Null text stays null
    * (nothing to scrub), counts 0.
    *
    * @return input plus (n_emails, n_ips, redacted_text)
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val in = spreadCompactScan(df)
    // one fused codegen expression ([[graft.functions.PiiScanExpr]]) —
    // previously 4 independent regex projections; the struct is
    // materialized in its own projection so the scan runs ONCE per row
    val scanned = in.withColumn("__pii",
      graft.functions.PiiFunctions.pii_scan(col(textCol)))
    scanned
      .withColumn("n_emails",
        coalesce(col("__pii.n_emails"), lit(0L)))
      .withColumn("n_ips", coalesce(col("__pii.n_ips"), lit(0L)))
      .withColumn("redacted_text", col("__pii.redacted"))
      .drop("__pii")
  }

  /** Per-stratum corpus profile: doc counts, token totals, and EXACT
    * interpolated token-count quartiles (Spark `percentile` — a
    * distributed value→count map merge, bounded by the number of
    * DISTINCT per-doc token counts, which is tiny relative to the
    * corpus; matches `quantile_cont` semantics exactly, both use the
    * (n-1)·p linear-interpolation rank). The shape every mixture /
    * curation decision starts from. */
  def corpusProfile(df: DataFrame, stratumCol: String,
      textCol: String): DataFrame =
    df.select(col(stratumCol), tokenCount(col(textCol)).as("__nt"))
      .groupBy(stratumCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("__nt").as("total_tokens"),
        round(element_at(expr(
          "percentile(__nt, array(0.25D, 0.5D, 0.75D))"), 1), 6).as("p25"),
        round(element_at(expr(
          "percentile(__nt, array(0.25D, 0.5D, 0.75D))"), 2), 6).as("p50"),
        round(element_at(expr(
          "percentile(__nt, array(0.25D, 0.5D, 0.75D))"), 3), 6).as("p75"))

  /** C4-style GLOBAL line dedup: every distinct (trimmed, non-empty)
    * line keeps only its FIRST occurrence corpus-wide — first by
    * (id, line index), the deterministic document order — and each
    * document is reassembled from its surviving lines. The (line →
    * min(id, idx)) aggregation IS the kept set — its output rows carry
    * the surviving (id, idx, line) triples directly, so the corpus
    * never re-shuffles against itself. Three exchanges total, all
    * scale-correct: the line aggregation (map-side partial combine,
    * group sizes = per-line occurrence counts), the per-document
    * regroup (group sizes bounded by document length), and the
    * id-keyed join back to the full document list. Documents whose
    * every line was seen earlier collapse to the empty string rather
    * than disappearing.
    *
    * @return one row per input document: id, n_lines_kept, dedup_text
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(textLines(col(textCol))).as(Seq("__idx", "__line")))
    val kept = lines.groupBy("__line")
      .agg(min(struct(col(idCol).as("_d"), col("__idx").as("_i")))
        .as("__first"))
      .select(col("__first._d").as(idCol), col("__first._i").as("__idx"),
        col("__line"))
    val rebuilt = kept.groupBy(idCol)
      .agg(count(lit(1)).as("n_lines_kept"),
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("__idx"), col("__line")))),
          x => x.getField("__line"))).as("dedup_text"))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** CCNet-style unigram language-model scoring: each document's mean
    * token log-probability under the corpus's OWN unigram distribution
    * — the standard cheap proxy for an LM quality filter (low scores =
    * rare-token soup, boilerplate, encoding garbage). The pipeline
    * reduces to per-(document, token) term frequencies FIRST, so the
    * probability join moves (doc, distinct-token) rows — never one row
    * per occurrence — and a corpus-hot token like 'the' contributes at
    * most one row per document to its join key instead of billions (the
    * frequency-weighted mean over tf rows equals the plain mean over
    * occurrences exactly). The tf exchange is reused by both the
    * vocabulary aggregation and the probability join.
    *
    * @return one row per document: id, n_tokens, avg_logprob (null for
    *         empty documents)
    */
  def unigramLogProb(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // per-document tf computed INSIDE the row (codegen
    // [[graft.functions.TokenCountsExpr]] hash pass) — the old
    // `explode → groupBy(id, token)` shuffled one row per token
    // OCCURRENCE corpus-wide before this. The tf relation below is
    // exchange-FREE: its rows are born pre-combined, so the only corpus
    // shuffles left are the vocabulary aggregation (map-side combined to
    // per-partition vocab partials) and the per-document regroup
    // (map-side combined to one partial per doc per partition). The
    // probability join stays skew-robust exactly as before: a corpus-hot
    // token contributes ≤1 row per document to its join key — and AQE
    // broadcasts the vocabulary side when it is small enough.
    val tf = df.select(col(idCol),
        explode(graft.functions.TextFunctions.tf_from_text(
          coalesce(col(textCol), lit("")))).as("__e"))
      .select(col(idCol), col("__e.t").as("__t"), col("__e.tf").as("__tf"))
    val counts = tf.groupBy("__t").agg(sum("__tf").as("__c"))
    val total = counts.agg(sum("__c").cast("double").as("__n"))
    val scored = tf.join(counts, Seq("__t")).crossJoin(total)
      .groupBy(idCol)
      .agg(sum("__tf").as("n_tokens"),
        round(sum(col("__tf").cast("double") *
            log(col("__c").cast("double") / col("__n"))) /
          sum(col("__tf").cast("double")), 6).as("avg_logprob"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("avg_logprob"))
  }

  /** Stable content fingerprint (md5 of normalized text) — exact-dup key. */
  def fingerprintMd5(text: Column): Column =
    // fused single-pass trim+lower+md5 ([[graft.functions.NormalizedMd5Expr]])
    // — byte-scan edge trim instead of the regex engine; exact parity
    // with md5(lower(wsTrim(text))), which the DuckDB oracles keep
    Bridge.column(graft.functions.NormalizedMd5Expr(
      Bridge.expression(text)))

  /** Polynomial rolling-hash fingerprint over tokens: base-31 Horner over
    * the token stream mod 2^31−1, each token pre-hashed by its md5's
    * first 12 hex digits — order-sensitive, unlike the md5 of sorted
    * tokens, and EXACTLY reproducible in ANSI SQL (DuckDB:
    * `list_reduce` + `('0x'||substr(md5(t),1,12))::BIGINT`), so q24 is
    * value-checked instead of rows-only. Intermediates stay < 2^37,
    * safe under ANSI overflow checking. */
  def fingerprintRolling(text: Column): Column = {
    val m = 2147483647L // 2^31 - 1
    val tokHash = (t: Column) =>
      pmod(conv(substring(md5(t), 1, 12), 16, 10).cast("long"), lit(m))
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * lit(31L) + tokHash(t), lit(m)))
  }

  /** TF-IDF scores per (document, term): tf = term count in doc,
    * idf = ln(N / df). Explode + two aggregations — fully codegen'd,
    * shuffles on term then doc. */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("term"))
    val n = df.count().toDouble
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfreq, Seq("term"))
      .select(col("id"), col("term"), col("tf"),
        round(col("tf") * log(lit(n) / col("df")), 6).as("tfidf"))
  }

  /** Greedy per-document stats frame — one fused tokenization pass
    * ([[graft.functions.TextStatsExpr]]); the declarative composition
    * re-split the text ~8 times (five per-language intersects alone).
    * Null text keeps the old per-metric semantics: null stats, 'und'
    * language. */
  /** Frequency-ranked token vocabulary: the top `size` corpus tokens by
    * total occurrence count (ties break lexicographically), with dense
    * `token_id` 0..size-1 in rank order — the id table a tokenizer
    * pipeline broadcasts. Corpus-side work is the per-document fused tf
    * pass + one vocab-sized aggregation; the rank window runs on at most
    * `size` rows AFTER the distributed top-N, never on the full
    * vocabulary.
    *
    * @return (token, n, token_id)
    */
  def buildVocab(df: DataFrame, textCol: String, size: Int): DataFrame = {
    require(size >= 1, s"vocab size must be >= 1 (got $size)")
    val counts = df
      .filter(col(textCol).isNotNull && length(wsTrim(col(textCol))) > 0)
      .select(explode(graft.functions.TextFunctions.tf_from_text(
        col(textCol))).as("__e"))
      .select(col("__e.t").as("token"), col("__e.tf").as("__tf"))
      .groupBy("token").agg(sum("__tf").as("n"))
    // TakeOrdered does the distributed top-N; the row_number window then
    // sees only `size` rows (a single tiny partition by construction)
    counts.orderBy(col("n").desc, col("token").asc).limit(size)
      .withColumn("token_id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("token").asc)) - 1)
  }

  /** Token-id encoding against a vocabulary (the text → ids step ahead
    * of packing/chunking): whitespace tokens map to `token_id`, misses
    * to `oovId`. The vocabulary — top-N by construction — is collected
    * once and rides a fused byte-scan expression
    * ([[graft.functions.TokenIds]]) as a reference object, so the whole
    * encode is EXCHANGE-FREE scan-side work: no token explode, no
    * broadcast join, no positional reassembly shuffle (the join form
    * moved one row per token occurrence corpus-wide). Null/blank
    * documents encode to an empty id list. `oovId` must not collide
    * with a vocabulary id (vocab ids are ≥ 0; the default −1 never
    * does).
    *
    * @return (id, n_tokens, n_oov, ids) — ids in document order
    */
  def encodeTokens(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, oovId: Long = -1L): DataFrame = {
    val vmap = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
    vocab.select(col("token"), col("token_id").cast("long")).collect()
      .foreach { r =>
        vmap.put(org.apache.spark.unsafe.types.UTF8String
          .fromString(r.getString(0)), r.getLong(1))
      }
    // two stacked projections: `ids` is a non-cheap expression referenced
    // three times, so CollapseProject keeps it computed ONCE; the
    // tokenize+lookup pass is CPU-bound (1.3x at sf1 starved)
    spreadCompactScan(df).select(col(idCol),
        graft.functions.TextFunctions.token_ids(
          coalesce(col(textCol), lit("")), vmap, oovId).as("ids"))
      .select(col(idCol),
        size(col("ids")).cast("long").as("n_tokens"),
        size(filter(col("ids"), _ === lit(oovId))).cast("long").as("n_oov"),
        col("ids"))
  }

  def documentStats(df: DataFrame, textCol: String): DataFrame = {
    val st = df.withColumn("__ts",
      graft.functions.TextStatsFunctions.text_stats(col(textCol)))
    st.withColumn("n_tokens", col("__ts.n_tokens"))
      .withColumn("punct_ratio", col("__ts.punct_ratio"))
      .withColumn("stopword_ratio", col("__ts.stopword_ratio"))
      .withColumn("lang_guess", coalesce(col("__ts.lang_guess"), lit("und")))
      .withColumn("quality", col("__ts.quality"))
      .drop("__ts")
  }
}
