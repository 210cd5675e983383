package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{h7, tokens}
import graft.operators.RelationalOps.spread

/** Corpus-level text operators (multi-document aggregation) and
  * deterministic sampling — the curation half of a training-data
  * pipeline. Sampling here is HASH-BASED, never `rand()`: a sample
  * defined by `h(key) mod 100 < pct` is reproducible across runs,
  * engines, and retries (and therefore oracle-checkable), which is
  * what production data curation needs — re-running the pipeline must
  * not re-roll the dice.
  */
object CorpusOps {

  /** Deterministic p% sample: keep rows whose 28-bit md5 key-hash
    * falls in [0, pct) mod 100. Embarrassingly parallel filter at the
    * scan — no shuffle, no RNG state, stable under retries/replays.
    */
  def hashModSample(df: DataFrame, keyCol: Column, pct: Int): DataFrame =
    df.filter(pmod(h7(keyCol.cast("string")), lit(100)) < pct)

  /** Rebalance a corpus toward a TARGET class mix — the domain-mixing
    * step of every training-data recipe ("30% web, 20% code, …"):
    * classes over-represented relative to `targets` are down-sampled
    * to the target share of the CURRENT total, classes at or under
    * their target keep every row (rate capped at 1 — this operator
    * never up-samples), classes absent from `targets` are dropped.
    *
    * Selection is hash-based like [[hashModSample]] (keep iff
    * `h7(key) mod 1e6 < floor(rate·1e6)`), so membership is a pure
    * function of (key, targets, class counts) — reproducible across
    * runs/engines and oracle-checkable. Scale shape: one map-side-
    * combined count per class (tiny), rates broadcast back, then a
    * shuffle-free scan filter — the corpus itself is never shuffled.
    */
  def domainMix(df: DataFrame, classCol: String, keyCol: Column,
                targets: Map[String, Double]): DataFrame = {
    require(targets.values.forall(v => v >= 0 && v <= 1),
      "domainMix: target fractions must be in [0, 1]")
    val counts = df.groupBy(col(classCol)).agg(count(lit(1)).as("__n"))
    val total = counts.agg(sum(col("__n")).as("__total"))
    // CASE chain rather than a map literal: the oracle mirrors it as
    // the same CASE, and lookup misses default to 0 (drop the class)
    val target = targets.toSeq.sortBy(_._1)
      .foldLeft(lit(0.0)) { case (acc, (cls, frac)) =>
        when(col(classCol) === cls, lit(frac)).otherwise(acc)
      }
    val rates = counts.crossJoin(broadcast(total))
      .select(col(classCol),
        floor(least(lit(1.0), target * col("__total") / col("__n")) * 1e6)
          .cast("long").as("__thr"))
    df.join(broadcast(rates), Seq(classCol))
      .filter(pmod(h7(keyCol.cast("string")), lit(1000000)) < col("__thr"))
      .drop("__thr")
  }

  /** Deterministic train/val/test split: hash ranges over the same
    * 28-bit key-hash as [[hashModSample]], so membership is a pure
    * function of the key — stable across runs/engines/retries, and a
    * document can never migrate between splits when the corpus grows
    * (the property random splits lose on every re-shuffle).
    * `trainPct + valPct` must be ≤ 100; the remainder is test.
    */
  def assignSplit(keyCol: Column, trainPct: Int, valPct: Int): Column = {
    require(trainPct + valPct <= 100, "trainPct + valPct must be <= 100")
    val bucket = pmod(h7(keyCol.cast("string")), lit(100))
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Per-class cap: keep at most `cap` rows per class, chosen in
    * deterministic hash order (NOT "first seen" — that depends on
    * partition layout). One shuffle on the class key; per-task state
    * bounded by the largest class. The standard tool for balancing
    * skewed class distributions in a training set.
    */
  def perClassCap(df: DataFrame, classCol: String, keyCol: Column, cap: Int,
                  rankAlias: String = "rnk"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(classCol))
      .orderBy(h7(keyCol.cast("string")).asc, keyCol.asc)
    df.withColumn(rankAlias, row_number().over(w)).filter(col(rankAlias) <= cap)
  }

  /** Deterministic sequence packing: assign documents to fixed
    * token-budget bins — the step that turns a filtered corpus into
    * training batches (pack short documents together so every training
    * sequence is ~budget tokens; unpacked short docs waste the
    * attention window as padding). The global-greedy formulation is
    * inherently sequential, so the scale shape SHARDS FIRST: each
    * document lands in one of `shards` hash-derived shards
    * (embarrassingly parallel), and packing runs independently per
    * shard as a running token sum in deterministic hash order — one
    * shuffle on the shard key, per-task state = one counter. The
    * (shard, bin) pair is the pack id. Hash-ordered packing is also
    * stable: re-running over the same corpus reproduces identical
    * bins (RNG-shuffled packers re-deal every run).
    *
    * Bin ids derive from the EXCLUSIVE running sum, so a document
    * larger than the budget occupies its bin alone and packing
    * continues — no document is dropped.
    */
  def packSequences(docs: DataFrame, keyCol: Column, nTokensCol: Column,
                    budget: Int, shards: Int): DataFrame = {
    val h = h7(keyCol.cast("string"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__shard")).orderBy(h.asc, keyCol.asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // the token-count expression can be expensive (e.g. a full BPE
    // encode per doc) — spread before evaluating it so an under-split
    // scan doesn't run it on one task (identity on multi-split inputs)
    spread(docs).select(keyCol, nTokensCol.as("n_tokens"),
        pmod(h, lit(shards)).as("__shard"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .select(keyCol, col("__shard").as("shard"),
        expr(s"(__cum - n_tokens) div $budget").as("bin"), col("n_tokens"))
  }

  /** Global top-k vocabulary by token frequency. Explode → partial
    * count per partition (map-side combine bounds the shuffle by
    * |vocab| per partition, not |tokens|) → final count → bounded
    * top-k (TakeOrderedAndProject, no global sort).
    */
  /** Token-window document chunking — the context-length op every
    * pretraining pipeline runs: split each document into windows of
    * `size` tokens advancing by `stride` (< size ⇒ overlapping chunks,
    * the standard trick so no span is ever cut mid-context at a chunk
    * boundary). Per-row explode, no shuffle: chunking rides the scan at
    * 100 TB. Window starts are 0, stride, 2·stride, … while < n_tokens
    * (short/empty docs yield exactly one chunk), so the tail is always
    * covered; trailing windows may be shorter than `size`.
    *
    * @return one row per chunk:
    *         (doc_id, chunk_idx, chunk_start, n_tokens, chunk_text)
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
                     chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    val toks = tokens(col(textCol))
    spread(docs).select(col(idCol), toks.as("__toks"))
      .select(col(idCol), col("__toks"),
        posexplode(sequence(lit(0), greatest(size(col("__toks")) - 1, lit(0)),
          lit(stride))).as(Seq("chunk_idx", "chunk_start")))
      .select(col(idCol), col("chunk_idx"), col("chunk_start"),
        least(lit(chunkSize), size(col("__toks")) - col("chunk_start"))
          .as("n_tokens"),
        array_join(slice(col("__toks"), col("chunk_start") + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
  }

  /** Deterministic weighted sampling without replacement — the
    * quality-weighted selection step of data curation (sample harder
    * from high-quality docs), via the Efraimidis–Spirakis A-Res scheme:
    * key = u^(1/w) with u uniform in (0,1), keep the n largest keys.
    * u derives from the portable id hash instead of RNG state, so the
    * sample is a pure function of the ids — reproducible across runs,
    * engines, and retries, and the oracle replays it exactly.
    *
    * Scale shape: per-row score inside the scan, then a bounded
    * top-n (TakeOrderedAndProject — per-partition heads merged on the
    * driver side of the exchange), never a full sort.
    */
  def weightedSample(docs: DataFrame, idCol: String, weight: Column,
                     n: Int): DataFrame = {
    // (h+1) / (2^28 + 1) ∈ (0, 1) — strictly inside the open interval,
    // so pow(u, 1/w) is never 0 or 1 and log-free ordering is exact
    val u = (h7(col(idCol).cast("string")) + 1).cast("double") / lit(268435457.0)
    val score = pow(u, lit(1.0) / weight.cast("double"))
    spread(docs).select(col(idCol), score.as("__s"))
      .orderBy(col("__s").desc, col(idCol).asc).limit(n)
      .select(col(idCol), round(col("__s"), 6).as("score"))
  }

  /** Scale path for quality-decile binning. The exact form (`ntile`
    * over `PARTITION BY lang ORDER BY score` — the `cur_quantile_bins`
    * driver query) funnels EVERY row of one language through one
    * partition's sort: correct, oracle-checkable, and unusable at
    * 100 TB. This variant computes per-class decile BOUNDARIES with
    * `approx_percentile` (Greenwald–Khanna sketch: fixed-size,
    * mergeable, map-side-combined — the same scale argument as
    * g12/X-G19) and assigns each row `1 + #boundaries above its
    * score` — two map-side-combining scans and a broadcast of
    * |classes| × (bins−1) doubles, no per-class sort anywhere.
    *
    * Differences from exact ntile are bounded by the sketch's rank
    * error (ties also land in ONE bin here, where ntile splits them
    * arbitrarily to equalize counts); agreement is pinned in
    * CorpusOpsSpec rather than the DuckDB oracle — same precedent as
    * the other sketch-backed operators.
    *
    * @return (idCol, classCol, score, decile) with decile 1 = highest
    */
  def quantileBinsApprox(docs: DataFrame, idCol: String, classCol: String,
                         score: Column, bins: Int = 10,
                         accuracy: Int = 10000): DataFrame = {
    val probs = (1 until bins).map(_.toDouble / bins)
    val b = docs.select(col(idCol), col(classCol), score.as("score"))
    val bounds = b.groupBy(col(classCol))
      .agg(percentile_approx(col("score"), typedlit(probs), lit(accuracy))
        .as("__bounds"))
    b.join(broadcast(bounds), Seq(classCol))
      .select(col(idCol), col(classCol), col("score"),
        (lit(1) + size(filter(col("__bounds"), x => x > col("score"))))
          .as("decile"))
  }

  def vocabTopK(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** Benchmark decontamination: drop corpus documents sharing ANY word
    * n-gram with a contamination set (eval-set hygiene — a training
    * corpus must not contain benchmark text; n-gram overlap is the
    * standard detector, e.g. GPT-3 appendix C / PaLM's 13-gram rule;
    * here n is a parameter since the synthetic docs are short).
    *
    * Plan shape: both sides explode to (id, shingle-hash) — 56-bit
    * md5-prefix keys, fixed-width through the shuffle — and a
    * LEFT ANTI join on the hash removes any document with at least one
    * hit. The anti join shuffles on the shingle hash only; the
    * contamination side is typically small (an eval set) and Spark
    * broadcasts it when so.
    */
  def decontaminate(docs: DataFrame, contamination: DataFrame,
                    idCol: String, textCol: String, n: Int = 3): DataFrame = {
    def hashed(df: DataFrame): Column =
      explode(array_distinct(DedupOps.shingles(col(textCol), n)))
    val docShingles = RelationalOps.spread(docs)
      .select(col(idCol), hashed(docs).as("__s0"))
      .select(col(idCol), conv(substring(md5(col("__s0")), 1, 14), 16, 10)
        .cast("long").as("__sh"))
    val contamShingles = contamination
      .select(hashed(contamination).as("__s0"))
      .select(conv(substring(md5(col("__s0")), 1, 14), 16, 10).cast("long").as("__sh"))
      .distinct()
    val contaminatedIds = docShingles.join(contamShingles, Seq("__sh"), "left_semi")
      .select(col(idCol)).distinct()
    docs.join(contaminatedIds, Seq(idCol), "left_anti")
  }

  /** [[decontaminate]] with a BROADCAST BLOOM pre-filter — identical
    * output, different scale shape. The plain version ships every
    * distinct (doc, shingle-hash) pair into a semi-join against the
    * contamination set: fine while the eval set fits a broadcast hash
    * relation, but the probe side still pays a join for EVERY shingle
    * of the corpus, and a contamination set past the broadcast
    * threshold turns the whole thing into a corpus-wide shuffle. Here
    * the contamination set is collapsed to a bloom filter (built
    * driver-side from its distinct hashes — bounded by the EVAL set's
    * size, the same collect Spark's own runtime bloom-join performs,
    * never by the corpus), broadcast as a plain array literal, and
    * probed by a pure per-row codegen predicate: the corpus is
    * filtered AT THE SCAN, no join, no shuffle. Only the surviving
    * ~0.2% (true hits + the filter's false positives) reach the exact
    * confirming semi-join, so the expensive path is sized by the
    * CONTAMINATED fraction, not the corpus. False positives cannot
    * leak into the result — the semi-join re-checks exactly; false
    * negatives cannot occur — every set bit is present. m is sized to
    * 16 bits/key (FPR ≈ 0.2% at k = 4) and capped at 2^22 per the
    * plan-literal budget.
    *
    * Bit probe: double hashing `(h1 + i·h2) mod m` (Kirsch &
    * Mitzenmacher 2006) with both halves pre-reduced mod m (ANSI-safe
    * — no overflow), word lookup via `element_at`, bit extract via
    * `shiftright(word, pos) & 1` — builtins only, fully codegen'd,
    * shared literally between the driver-side build and the probe.
    */
  def decontaminateBloom(docs: DataFrame, contamination: DataFrame,
                         idCol: String, textCol: String, n: Int = 3,
                         bloomK: Int = 4): DataFrame = {
    def hashed(df: DataFrame): DataFrame =
      df.select(col(idCol),
          explode(array_distinct(DedupOps.shingles(col(textCol), n))).as("__s0"))
        .select(col(idCol), conv(substring(md5(col("__s0")), 1, 14), 16, 10)
          .cast("long").as("__sh"))
    // ONE job collects the distinct keys WITH their xxhash64 pair —
    // the same pair the probe expressions compute, so build and probe
    // can never drift (both are xxhash64(v) / xxhash64(v, 1) mod m)
    val keyed = hashed(contamination).select(col("__sh")).distinct()
      .select(col("__sh"), xxhash64(col("__sh")).as("h1"),
        xxhash64(col("__sh"), lit(1)).as("h2"))
      .collect()
    val keys = keyed.map(_.getLong(0))
    val m = math.min(1 << 22,
      math.max(1024, java.lang.Long.highestOneBit(math.max(1L, keys.length * 16L - 1)) << 1)).toInt
    def posOf(h1: Long, h2: Long, i: Int): Int = {
      val p = (Math.floorMod(h1, m) + i.toLong * Math.floorMod(h2, m)) % m
      p.toInt
    }
    val words = new Array[Long](m / 64)
    keyed.foreach { r =>
      (0 until bloomK).foreach { i =>
        val p = posOf(r.getLong(1), r.getLong(2), i)
        words(p / 64) |= 1L << (p % 64)
      }
    }
    val sp = contamination.sparkSession
    import sp.implicits._
    val wordsLit = typedlit(words.toSeq)
    val h1 = pmod(xxhash64(col("__sh")), lit(m.toLong))
    val h2 = pmod(xxhash64(col("__sh"), lit(1)), lit(m.toLong))
    val maybeContaminated = (0 until bloomK).map { i =>
      val p = pmod(h1 + lit(i.toLong) * h2, lit(m.toLong))
      (call_function("shiftright",
        element_at(wordsLit, (p / 64).cast("int") + lit(1)),
        (p % 64).cast("int")) % 2 =!= 0) // & 1 via mod 2 of the shifted word
    }.reduce(_ && _)
    // spread the corpus across the session's cores before the
    // per-shingle md5 work — an under-split local scan otherwise runs
    // this whole stage on one task (identity on multi-split inputs)
    val candidates = hashed(RelationalOps.spread(docs)).filter(maybeContaminated)
    // exact confirmation against the ALREADY-COLLECTED key set (the
    // contamination shingling is computed once, not re-derived for
    // the join); localized to the driver it broadcasts as the build
    // side of a hash semi-join over the few bloom survivors
    val contamShingles = keys.toSeq.toDF("__sh")
    val contaminatedIds = candidates.join(broadcast(contamShingles), Seq("__sh"), "left_semi")
      .select(col(idCol)).distinct()
    // both small sides are broadcast EXPLICITLY: the whole point of
    // this variant is staying shuffle-free on the corpus even when
    // the optimizer's broadcast threshold would give up (an eval set
    // bigger than the threshold; contaminated ids are bounded by the
    // contaminated doc count, small by construction)
    docs.join(broadcast(contaminatedIds), Seq(idCol), "left_anti")
  }

  /** GRADED decontamination — per-document n-gram CONTAINMENT score
    * instead of [[decontaminate]]'s boolean any-hit:
    * `|distinct doc n-grams ∩ contamination n-grams| / |distinct doc
    * n-grams|`. Containment (not Jaccard) is the right asymmetric
    * measure here — a long document quoting one benchmark question is
    * lightly contaminated, the verbatim benchmark doc scores 1.0 —
    * and a threshold on the score replaces the all-or-nothing drop
    * with a tunable policy (PaLM-style "≥70% of 8-grams seen" rules).
    *
    * Plan shape: docs explode once to distinct (id, 56-bit shingle
    * hash); the contamination set collapses to distinct hashes
    * (typically an eval set — small, so the hit-marking LEFT join
    * broadcasts it); one map-side-combined aggregate back to the doc
    * grain computes hit and total counts together. Nothing wider than
    * (id, hash, flag) ever shuffles.
    *
    * @return (id, n_shingles, n_hit, containment) for every document
    */
  def containmentScores(docs: DataFrame, contamination: DataFrame,
                        idCol: String, textCol: String, n: Int = 3): DataFrame = {
    def hashed(df: DataFrame): DataFrame =
      df.select(col(idCol),
          explode(array_distinct(DedupOps.shingles(col(textCol), n))).as("__s0"))
        .select(col(idCol), conv(substring(md5(col("__s0")), 1, 14), 16, 10)
          .cast("long").as("__sh"))
    val contamShingles = hashed(contamination)
      .select(col("__sh")).distinct().withColumn("__hit", lit(1))
    hashed(RelationalOps.spread(docs))
      .join(contamShingles, Seq("__sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .select(col(idCol), col("n_shingles"), col("n_hit"),
        round(col("n_hit") / col("n_shingles"), 6).as("containment"))
  }

  /** TF-IDF weights per (doc, term): tf × ln(N / df). SINGLE
    * tokenization pass: explode once, aggregate tf per (doc, term);
    * document frequency is then a hash aggregate `groupBy(term).count`
    * over the SAME tf frame, joined back on term. Both consumers of
    * the tf subtree share its (doc, term) shuffle exchange
    * (ReuseExchange — scan+tokenize runs once; the r2 two-branch
    * version re-ran it, doubling CPU at 100 TB), and the df side
    * collapses to |vocab| rows, so AQE broadcast-joins it at test
    * scale and falls back to a shuffled join on term when vocab is
    * genuinely huge. This replaces the r3 `count(*) OVER (PARTITION BY
    * term)` window, whose sort-based shuffle benchmarked 1.9× slower
    * at sf0.1 than the r2 number — a hash aggregate + join needs no
    * sort. N arrives as a broadcast scalar. Weights are the classic
    * relevance/quality signal for corpus filtering.
    */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = RelationalOps.spread(docs)
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
    val tf = ex.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // sum(least(tf, 1)), not count(*): every tf is ≥ 1, so the value
    // IS the per-term document count — but the expression genuinely
    // consumes the tf column, which pins this branch's child aggregate
    // to the same (doc, term) count subtree as the tf output branch.
    // A plain count(*) lets Catalyst prune tf and strip the inner
    // count (RemoveRedundantAggregates), de-canonicalizing the two
    // subtrees — observed: the exchange stopped being reused and
    // scan+tokenize ran twice.
    val df = tf.groupBy(col("term")).agg(sum(least(col("tf"), lit(1L))).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
  }

  /** Per-document average unigram negative log-likelihood — the
    * KenLM-style "perplexity proxy" quality signal: score(doc) =
    * (1/n) Σ −ln(count(term)/T) over the doc's tokens, with counts
    * taken from the corpus itself. Low = made of common words; high =
    * rare-token soup (OCR noise, codes, mojibake). Unlike
    * [[graft.functions.TextFunctions.qualityScore]] (per-row, corpus-
    * blind) this one prices each token against the corpus distribution.
    *
    * Determinism: per-token −ln(p) is quantized to integer MICRO-NATS
    * (`round(·1e6)` — the vec_centroids trick) so the per-doc sum is an
    * exact long on both engines, and the reported average STAYS an
    * integer (floored micro-nats): a rounded decimal average here is
    * rational-by-construction, so exact half-boundary values are
    * common and Spark's decimal HALF_UP disagrees with a binary
    * rounder on them — floor of an exact-int ratio never does.
    * Scale shape: everything derives from ONE tokenize pass through
    * the (doc, term) tf aggregate — corpus counts re-aggregate tf by
    * term (the [[tfIdf]] subtree-canonicalization trick, so the tf
    * exchange is shared), per-doc pricing is Σ tf·micro / Σ tf (equal,
    * term by term, to summing over raw tokens), and T broadcasts as a
    * scalar. Shuffles: (doc, term), term, doc — never the text.
    */
  def unigramNll(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = RelationalOps.spread(docs)
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
    val tf = ex.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val total = cnt.agg(sum(col("cnt")).as("total"))
    val micro = round(-log(col("cnt").cast("double") / col("total")) * 1e6)
      .cast("long")
    tf.join(cnt, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * micro).as("__micro_sum"),
        sum(col("tf")).as("n_tokens"))
      // pure LONG integer division, never through double: floor of a
      // non-negative integer ratio IS integer division, and longs stay
      // exact at any magnitude — a double round-trip breaks the exact-
      // integer contract once Σ tf·micro exceeds 2^53 (~4e8 tokens at
      // ~20 nats/token)
      .select(col("doc_id"),
        expr("__micro_sum div n_tokens").as("avg_nll_micro"),
        col("n_tokens"))
  }

  /** Per-document average BIGRAM negative log-likelihood — the n=2
    * joint-surprise sibling of [[unigramNll]]: repetitive or templated
    * text reuses the same word PAIRS, which unigram pricing cannot
    * see. Bigrams are [[DedupOps.shingles]](n=2) strings (native
    * codegen, whole-doc collapse for sub-2-token docs keeps every doc
    * priced), and the plan is identical to unigram's: one
    * tokenize+count pass, corpus counts joined back, broadcast 1-row
    * total, micro-nat integers end to end so the oracle compare is
    * exact — no float summation-order hazard.
    */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = RelationalOps.spread(docs)
      .select(col(idCol).as("doc_id"),
        explode(DedupOps.shingles(col(textCol), 2)).as("bigram"))
    val bf = ex.groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("bf"))
    val cnt = bf.groupBy(col("bigram")).agg(sum(col("bf")).as("cnt"))
    val total = cnt.agg(sum(col("cnt")).as("total"))
    val micro = round(-log(col("cnt").cast("double") / col("total")) * 1e6)
      .cast("long")
    bf.join(cnt, Seq("bigram"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("bf") * micro).as("__micro_sum"),
        sum(col("bf")).as("n_bigrams"))
      // long integer division — same exact-at-any-magnitude contract
      // as unigramNll (see note there)
      .select(col("doc_id"),
        expr("__micro_sum div n_bigrams").as("avg_nll_micro"),
        col("n_bigrams"))
  }

  /** Feature-hashed linear scorer — the shape of every fasttext-style
    * quality/toxicity/language filter a training pipeline runs over
    * the whole corpus: hash each token into one of `nBuckets` feature
    * buckets (hashing trick, Weinberger 2009), dot the bucket counts
    * with a weight vector, threshold the score. The weights here are a
    * deterministic function of the bucket id (a Knuth multiplicative
    * hash into integer micro-units) standing in for trained
    * parameters: the PLUMBING under test — tokenize → hash → weighted
    * sum → threshold, per row, shuffle-free, model applied inside the
    * scan projection with NO weight-table join — is exactly what a
    * real exported linear model needs at 100 TB; swapping in trained
    * weights is a literal-array substitution.
    *
    * Scores are exact long micro-units end to end (weight ∈
    * [-1000, 1000] micro, Σ over ~1e3 tokens ≪ 2^63), so the oracle
    * compare has no float hazard anywhere.
    */
  def linearScore(docs: DataFrame, idCol: String, textCol: String,
                  nBuckets: Int = 1024): DataFrame = {
    def weight(t: Column): Column =
      pmod(pmod(h7(t), lit(nBuckets.toLong)) * lit(2654435761L), lit(2001L)) -
        lit(1000L)
    spread(docs).select(col(idCol).as("doc_id"),
      size(tokens(col(textCol))).as("n_toks"),
      aggregate(transform(tokens(col(textCol)), weight(_)), lit(0L), _ + _)
        .as("score_micro"))
      .withColumn("keep", col("score_micro") > 0)
  }

  /** RAKE keyword extraction (Rose et al., "Automatic Keyword
    * Extraction from Individual Documents", 2010): candidate phrases
    * are maximal stopword-free token runs; each word scores
    * degree/frequency over the corpus's phrase co-occurrence (degree =
    * Σ length of phrases containing the word — longer-phrase words
    * score higher); a phrase scores the sum of its word scores; top
    * `topK` distinct phrases per document win. Word scores are
    * floored micro-ratios (`degree·1e6 div freq`, both positive ints),
    * so every score is an exact integer.
    *
    * Scale shape: phrase segmentation is a running stopword count per
    * doc (one shuffle on doc_id; the phrase-length window re-uses that
    * exchange — partitioning on doc_id already clusters (doc, phrase)),
    * word stats are one map-side-combined groupBy on the word, joined
    * back on the word key, and the final rank is |topK|-bounded per
    * doc. Nothing fans out beyond the token count.
    *
    * The segmented-phrase subtree feeds BOTH the word-stat branch and
    * the phrase-assembly branch; their column pruning differs, so
    * Spark's exchange reuse (which needs canonically-equal subtrees)
    * does NOT fire — r7's plan audit found the scan + doc_id shuffle +
    * windows physically duplicated. The subtree is persisted before
    * branching (the [[graft.operators.RelationalOps.globalRowNumber]]
    * precedent: structural sharing, not a bet on reuse), halving the
    * heavy half of the plan.
    *
    * Lifecycle (r9): the topK-bounded result is materialized eagerly
    * (`localCheckpoint`) so the phrase-subtree pin can be released
    * inside the operator — previously the MEMORY_AND_DISK block
    * outlived the call with no release path and a long-lived session
    * accumulated one pin per invocation (r8 verdict finding; the
    * bench's clearCache hygiene masked it).
    */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
                   topK: Int = 3,
                   stopwords: Seq[String] = Seq("the", "a", "and", "of",
                     "to", "in", "is", "it")): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val byPhrase = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("__pid"))
    val ph = spread(docs)
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("__pos", "__w")))
      .withColumn("__stop", col("__w").isInCollection(stopwords))
      .withColumn("__pid",
        sum(when(col("__stop"), 1).otherwise(0)).over(byDoc))
      .filter(!col("__stop"))
      .withColumn("__plen", count(lit(1)).over(byPhrase))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wordScore = ph.groupBy(col("__w"))
      .agg(count(lit(1)).as("__freq"), sum(col("__plen")).as("__deg"))
      .select(col("__w"), expr("__deg * 1000000 div __freq").as("__ws"))
    val phrases = ph.join(wordScore, Seq("__w"))
      .groupBy(col(idCol), col("__pid"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("__pos"), col("__w")))),
          s => s.getField("__w")), " ").as("phrase"),
        sum(col("__ws")).as("score_micro"))
      .select(col(idCol), col("phrase"), col("score_micro"))
      .distinct() // a phrase repeated within a doc is ONE candidate
    val checked = RelationalOps.topKPerGroup(phrases, Seq(idCol),
      Seq(col("score_micro").desc, col("phrase").asc), topK, "rnk")
      .localCheckpoint()
    ph.unpersist()
    checked
  }

  /** DSIR-style importance scoring (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by how much more likely its tokens are under a
    * TARGET domain's hashed-unigram distribution than under the full
    * corpus's — the standard recipe for steering a web-scale corpus
    * toward a quality domain without a trained classifier. Per-token
    * log importance = ln p̂_target(bucket) − ln p̂_source(bucket) over
    * `nBuckets` hashed token buckets, add-1 smoothed so unseen buckets
    * stay finite; a document's score is the sum over its tokens, in
    * exact micro-nat integers (each bucket's ±ln quantized once, so
    * sums are exact and the oracle compare has no float-order hazard).
    * `keep` = score > 0 (reads closer to target than to source).
    *
    * Scale shape, two phases like the trained-IVF codebook:
    * (1) ESTIMATE — one explode → map-side-combined count over
    * `nBuckets` keys (shuffle bounded by the bucket count, not the
    * corpus), completed to a dense bucket frame and collected as a
    * driver-side artifact of `nBuckets` longs (the "model");
    * (2) SCORE — the ratio table rides into the scan as a literal
    * array and scoring is a per-row fold, shuffle-free, exactly the
    * [[linearScore]] inference shape. The quantized per-bucket ratios
    * are computed IN Spark SQL (not driver-side `math.log`) so the
    * engine's `ln` is the one the oracle's `ln` is checked against.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, nBuckets: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    val bucketOf = (t: Column) => pmod(h7(t), lit(nBuckets.toLong))
    val tok = spread(docs).select(isTarget.as("__t"),
        explode(tokens(col(textCol))).as("__tok"))
      .select(col("__t"), bucketOf(col("__tok")).as("__b"))
    val counts = tok.groupBy(col("__b"))
      .agg(count(lit(1)).as("__n"), count(when(col("__t"), 1)).as("__nt"))
    // dense 0..nBuckets-1 frame: absent buckets still need their
    // smoothed prior priced, and totals must come from the same frame
    val dense = spark.range(nBuckets).toDF("__b")
      .join(counts, Seq("__b"), "left")
      .select(col("__b"), coalesce(col("__n"), lit(0L)).as("__n"),
        coalesce(col("__nt"), lit(0L)).as("__nt"))
    val tot = dense.agg(sum(col("__n")), sum(col("__nt"))).head()
    val (totAll, totT) = (tot.getLong(0), tot.getLong(1))
    def microNll(cnt: Column, total: Long): Column =
      round(-log((cnt + 1).cast("double") / lit((total + nBuckets).toDouble)) * 1e6)
        .cast("long")
    val ratio = dense.select(col("__b"),
        (microNll(col("__n"), totAll) - microNll(col("__nt"), totT)).as("__w"))
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1))).toMap
    val weights = lit((0 until nBuckets).map(b => ratio(b)).toArray)
    spread(docs).select(col(idCol),
        size(tokens(col(textCol))).as("n_toks"),
        aggregate(transform(tokens(col(textCol)),
          t => element_at(weights, (bucketOf(t) + 1).cast("int"))), lit(0L), _ + _)
          .as("score_micro"))
      .withColumn("keep", col("score_micro") > 0)
  }

  /** Cross-document boilerplate profile (the CCNet line-dedup recipe,
    * Wenzek et al. LREC'20, adapted to unsegmented text): split each
    * document into fixed-`chunkWords` pseudo-paragraphs, count how many
    * DISTINCT documents each chunk appears in, and mark chunks shared
    * by ≥ `dfThreshold` documents as boilerplate — headers, footers,
    * cookie banners, license blurbs. Returns the per-document removal
    * profile (what a cleaning pass would keep) rather than mutated
    * text, so the decision is auditable before any byte is dropped.
    *
    * Scale shape: chunks shuffle ONCE as 56-bit md5 longs to the
    * (hash, doc) grain (map-side combined — intra-doc repeats collapse
    * before the exchange); document frequency is a map-side-combined
    * count per hash JOINED back (not a window: a chunk shared by 10M
    * docs puts 10M rows in ONE window task, while the join is a shape
    * AQE's skew split can rescue and the count side collapses to one
    * row per hash before its exchange); the per-doc rollup re-shuffles
    * only the reduced grain. No strings past the first exchange, work
    * bounded by distinct (chunk, doc) — never tokens². A 56-bit
    * collision (≈2⁻⁴⁰ at 10M distinct chunks) could flag one spurious
    * chunk; the threshold semantics stay exact otherwise.
    *
    * @return (doc_id, n_chunks, n_boiler, n_kept_words) — kept words =
    *         words in chunks below the document-frequency threshold
    */
  def boilerplateProfile(docs: DataFrame, idCol: String, textCol: String,
                         chunkWords: Int = 10, dfThreshold: Int = 3): DataFrame = {
    val cw = chunkWords
    val toks = tokens(col(textCol))
    val chunks = spread(docs).select(col(idCol).as("doc_id"),
        explode(transform(
          sequence(lit(0), floor((size(toks) + lit(cw - 1)) / lit(cw)).cast("int") - 1),
          i => struct(
            conv(substring(md5(array_join(slice(toks, i * cw + 1, lit(cw)), " ")), 1, 14),
              16, 10).cast("long").as("h"),
            size(slice(toks, i * cw + 1, lit(cw))).cast("long").as("w")))).as("c"))
      // an empty doc makes the end bound -1 and `sequence` walks
      // DOWNWARD to it ([0,-1]) — both phantom chunks slice to empty
      // arrays, so the w>0 filter drops them
      .filter(col("c.w") > 0)
      .select(col("doc_id"), col("c.h").as("h"), col("c.w").as("w"))
    val perDocChunk = chunks.groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("occ"), sum(col("w")).as("words"))
    val df = perDocChunk.groupBy(col("h"))
      .agg((count(lit(1)) >= dfThreshold).as("__boiler"))
    perDocChunk.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_chunks"),
        sum(when(col("__boiler"), col("occ")).otherwise(0L)).as("n_boiler"),
        sum(when(!col("__boiler"), col("words")).otherwise(0L)).as("n_kept_words"))
  }
}
