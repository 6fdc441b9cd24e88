package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline (north star):
  * language-ID, quality scoring, token counting, document fingerprinting,
  * and exact n-gram-Jaccard near-dup pairs.
  *
  * Scale notes: lang-ID / quality / token-count are stateless codegen'd
  * projections (higher-order array functions, no UDFs). Fingerprinting is
  * a per-row shingle fold. The Jaccard pair query is the scale-correct
  * shingle-join shape: explode distinct shingles -> equi-join on shingle
  * -> pair aggregate. Shuffle volume is O(total shingles), never the
  * O(n^2) all-pairs product — hot shingles would need a stop-shingle
  * filter at 100 TB, noted inline.
  *
  * Portability: the shingle hash is the first 15 hex chars of md5 read as
  * a 60-bit int — DuckDB regenerates it with '0x'||prefix cast; the Spark
  * side computes the identical value natively (functions.ShingleHash60's
  * fused tokenize->shingle->distinct->md5-prefix loop — see its
  * engine-parity contract). No engine-specific hash() anywhere.
  */
object TextOps {

  private def toks(c: Column): Column = split(lower(c), " ")

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "que"),
    "de" -> Seq("der", "die", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "les"))

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Language-ID columns (s_en..s_fr marker counts + pred_lang argmax
    * with fixed priority tie-break) added to a frame with `text`. ONE
    * definition shared by q_lang_id, q_curation_keep, AND the streaming
    * s_curation_filter (graft-wide visibility), so no mode of the
    * pipeline can drift from the individually-proven operator. */
  private[graft] def withLangCols(df: DataFrame): DataFrame = {
    val tok = toks(col("text"))
    val scored = langProfiles.foldLeft(df) { case (acc, (lang, words)) =>
      acc.withColumn(s"s_$lang",
        size(filter(tok, t => t.isInCollection(words))).cast("long"))
    }
    val Seq(en, es, de, fr) = Seq("s_en", "s_es", "s_de", "s_fr").map(col)
    scored.withColumn("pred_lang",
      when(en >= es && en >= de && en >= fr, "en")
        .when(es >= de && es >= fr, "es")
        .when(de >= fr, "de")
        .otherwise("fr"))
  }

  /** Quality columns (token/stopword/char-shape signals + composite
    * `quality`) added to a frame with `text`; exact-integer arithmetic
    * until the final division. Shared like [[withLangCols]]. */
  private[graft] def withQualityCols(df: DataFrame): DataFrame = {
    val tok = toks(col("text"))
    df.withColumn("n_tok", size(tok).cast("long"))
      .withColumn("n_stop",
        size(filter(tok, t => t.isInCollection(stopwords))).cast("long"))
      .withColumn("alpha_chars",
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("long"))
      .withColumn("avg_tok_len",
        round(col("alpha_chars").cast("double") / col("n_tok"), 4))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / col("n_tok"), 4))
      .withColumn("quality",
        round(least(lit(1.0), col("n_tok").cast("double") / 200.0) * 0.5
          + (col("n_stop").cast("double") / col("n_tok")) * 0.5, 4))
  }

  /** Shared candidate machinery for the set-similarity dedup family
    * (jaccard / containment / fuzzy-edit, the dedup pipeline and the
    * dashboard) over a caller-chosen (doc_id, text) frame — since round
    * 17 always a CANONICAL doc set (one row per exact-dup class; the
    * per-class fan-back lives in [[classFanBack]]): per-doc DISTINCT
    * 3-gram shingle hashes persisted once (8 bytes per shingle,
    * MEMORY_AND_DISK — spills, never OOMs), pair intersection counts
    * from the shingle equi-join with BOTH set sizes attached. Honors
    * `spark.graft.shingleDfCap` (df-capped candidate generation with
    * exact full-set verify — the O(df²) join-row bound). Returns
    * (sized pairs, shingle cache handle); callers release the handle
    * via materializeAndFree. One definition so no family member can
    * drift from the proven candidate semantics, and composite consumers
    * pay the shingle pipeline exactly once. */
  private[queries] def shinglePairSizedOf(
      s: org.apache.spark.sql.SparkSession,
      docs: DataFrame): (DataFrame, DataFrame) =
    shinglePairSizedFromArrays(s, persistEager(docs
      .select(col("doc_id"),
        graft.functions.ShingleHash60(s, col("text"), 3, distinct = true)
          .as("sh"))))

  /** [[shinglePairSizedOf]] from a caller-PERSISTED (doc_id, sh:
    * distinct-shingle hash array) frame — the q_dedup_report seam, and
    * since round 16 the only cached form of the shingle machinery.
    *
    * Round-16 re-plan (the r15 sf3 cpus=32 OOM): the previous shape
    * persisted the EXPLODED (doc_id, s) rows — one cached row per
    * shingle occurrence, ~the corpus's token count — and at 30x data
    * that cache (held simultaneously with the array cache and the pair
    * join's shuffle state) blew an 8 GB heap. The array form is the
    * SAME bytes the minhash sketcher already caches (constant per doc,
    * ~10x fewer rows); every exploded read below is a narrow
    * re-explode of the columnar cache — no recompute of the
    * ShingleHash60 scan, no second cache. Per-doc set sizes come from
    * `size(sh)` on the cached arrays (the shingles are distinct by
    * construction), which also deletes the old per-doc count SHUFFLE.
    * Returns (sized pairs, the array handle the caller releases). */
  private[queries] def shinglePairSizedFromArrays(
      s: org.apache.spark.sql.SparkSession,
      arr: DataFrame): (DataFrame, DataFrame) = {
    val cap = s.conf.get("spark.graft.shingleDfCap", "0").toLong
    val sh = arr.select(col("doc_id"), explode(col("sh")).as("s"))
    val sz = arr.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val inter = if (cap <= 0) {
      sh.as("a").join(sh.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("inter"))
    } else {
      // document frequency per shingle over the cached arrays — one
      // extra 8-byte-key aggregation, the price of bounding the join
      val rare = sh.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select("s")
      val cand = sh.join(rare, "s").as("a")
        .join(sh.join(rare, "s").as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .dropDuplicates("d1", "d2")
      // exact verify over the FULL per-doc shingle sets — served
      // directly by the cached arrays, no collect_list rebuild
      val docs = arr.select(col("doc_id"), col("sh").as("sha"))
      cand
        .join(docs.select(col("doc_id").as("d1"), col("sha").as("sh1")), "d1")
        .join(docs.select(col("doc_id").as("d2"), col("sha").as("sh2")), "d2")
        .select(col("d1"), col("d2"),
          size(array_intersect(col("sh1"), col("sh2"))).cast("long")
            .as("inter"))
    }
    val sized = inter
      .join(sz.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sz.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), col("inter"),
        col("s1.n").as("n1"), col("s2.n").as("n2"))
    (sized, arr)
  }

  /** Exact-dup class machinery for the raw-pair FAN-BACK detectors
    * (round 17, r16 verdict #3 generalized): the pair-emitting
    * detectors' verdicts are functions of the two docs' class
    * representatives alone, so each detector runs once per class on the
    * canonical corpus and the raw pair list is reconstructed by fanning
    * canonical pairs back through the membership frame — the output
    * stays the full declared pair list (inherently quadratic in
    * replicas), but the candidate join, set verify and per-pair DP drop
    * to the distinct-document load. `key` picks the invariance class:
    * the family digest md5(lower(trim(text))) for the set-similarity
    * detectors (same digest ⇒ same lower-text token sequence ⇒ same
    * shingle set), md5(text) for byte-exact invariance (levenshtein).
    *
    * Returns: canon (ckey, doc_id, text, cnt, len — one row per class,
    * lowest-doc_id representative), mem (ckey, cdoc, doc_id — every raw
    * doc keyed by its class and the class canonical), sized (canonical
    * candidate pairs with set sizes, from the shared shingle
    * machinery), withinCls (ckey, n_sh, len for classes the raw plan
    * would self-pair: >= 2 copies and >= 1 shingle), and the shingle
    * cache handle the caller releases. */
  /** Class-assignment frames shared by [[classFanBack]] and the minhash
    * cluster family (AnnOps, round 18): `mem` (ckey, doc_id, cdoc, cnt —
    * every raw doc keyed by its class and the class canonical,
    * lazily persisted: the first consumer's eager fill materializes it)
    * and `canon` (ckey, doc_id, text, cnt, len — one row per class,
    * lowest-doc_id representative, UNPERSISTED: each consumer persists
    * the derived frame it actually re-reads and observes max(cnt) on
    * that fill, see the callers).
    *
    * Class assignment shuffles only (ckey, doc_id) — never text — as
    * ONE unordered window over that id frame (min + count per ckey),
    * which yields the membership frame `mem` directly: a groupBy +
    * join-back shape would shuffle the same (ckey, doc_id) bytes TWICE
    * (guide §2.4 — two operations keyed the same way share one
    * exchange). The canonical rows' text comes back through a doc_id
    * join against the scan (AQE broadcasts the class side at fixture
    * scale; at 100 TB it is a doc_id-keyed equi join, still cheaper
    * than shuffling every text copy by ckey). */
  private[queries] def classMembership(
      s: org.apache.spark.sql.SparkSession, d: String,
      key: Column => Column = t => md5(lower(trim(t)).cast("binary")))
      : (DataFrame, DataFrame) = {
    val docs = graft.Tables(s, d, "documents")
    val w = Window.partitionBy("ckey")
    val mem = persistLazy(docs
      .select(key(col("text")).as("ckey"), col("doc_id"))
      .withColumn("cdoc", min(col("doc_id")).over(w))
      .withColumn("cnt", count(lit(1)).over(w)))
    val canon = docs.select(col("doc_id"), col("text"))
      .join(mem.filter(col("doc_id") === col("cdoc"))
        .select(col("ckey"), col("doc_id"), col("cnt")), "doc_id")
      .select(col("ckey"), col("doc_id"), col("text"), col("cnt"),
        length(col("text")).cast("long").as("len"))
    (mem, canon)
  }

  /** The sixth return value `fanOut` is the round-18 short-circuit
    * (r17 verdict #4): canon's cache-filling count also observes the
    * corpus's max class size, and when every class is a singleton
    * (max(cnt) = 1) the membership fan-out joins and the within-class
    * branches are PROVABLY identity/empty — mem maps every canonical
    * pair to itself and no class can self-pair — so consumers skip
    * them and emit the canonical pairs directly. The branch is a
    * function of the data alone (same rows either way; QueriesSpec
    * pins fan-back == raw on a replicated fixture, and the sf0.01/0.1
    * oracle gates run the short-circuited path against the raw-corpus
    * SQL). Plan-digest sessions observe nothing (None) and always take
    * the general branch, so digests stay data-independent. */
  private[queries] def classFanBack(
      s: org.apache.spark.sql.SparkSession, d: String,
      key: Column => Column = t => md5(lower(trim(t)).cast("binary")))
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, Boolean) = {
    // canon's eager fill doubles as mem's (the join reads mem through a
    // filter, which materializes the whole cache — no per-consumer race
    // is possible because nothing else runs first). Callers release
    // both by checkpointing their final fan-out through
    // materializeAndFree(out, canon, mem, sh).
    val (mem, canonRaw) = classMembership(s, d, key)
    val (canon, maxCnt) = persistEagerWithLong(canonRaw, max(col("cnt")))
    val (sized, sh) = shinglePairSizedOf(s,
      canon.select(col("doc_id"), col("text")))
    val withinCls = canon
      .join(sh.select(col("doc_id"),
        size(col("sh")).cast("long").as("n_sh")), "doc_id")
      .filter(col("cnt") >= 2 && col("n_sh") > 0)
      .select(col("ckey"), col("n_sh"), col("len"))
    (canon, mem, sized, withinCls, sh, maxCnt.forall(_ > 1))
  }

  val q: Map[String, Q] = Map(
    // n-gram(1) profile heuristic: occurrence count per language marker
    // set, argmax with fixed priority tie-break. (The fixture text is
    // synthetic word soup; the contract is the deterministic scoring
    // pipeline, not linguistic accuracy.)
    "q_lang_id" -> ((s, d) =>
      withLangCols(Tables(s, d, "documents"))
        .select("doc_id", "lang", "s_en", "s_es", "s_de", "s_fr",
          "pred_lang")
        .orderBy("doc_id")),

    // Length / stopword-ratio / token-shape quality signals + a composite
    // score; all exact-integer arithmetic until the final division.
    "q_quality_score" -> ((s, d) =>
      withQualityCols(Tables(s, d, "documents"))
        .select("doc_id", "n_tok", "n_stop", "alpha_chars", "avg_tok_len",
          "stop_ratio", "quality")
        .orderBy("doc_id")),

    // Whitespace tokens vs BPE-ish subword pieces vs raw chars.
    "q_token_count" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
          .cast("long").as("bpe_pieces"),
        length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")),

    // Winnowing-style fingerprint: min/max/count-distinct over hashed
    // token 4-grams — constant-size per-document sketch. One fused
    // shingle_hash60 pass: min/max are dedup-invariant, and the distinct
    // array's LENGTH is the distinct-STRING count (dedup happens on the
    // shingle strings inside the expression), so all three stats read
    // off the same array.
    "q_fingerprint" -> ((s, d) =>
      Tables(s, d, "documents")
        .withColumn("h",
          graft.functions.ShingleHash60(s, col("text"), 4, distinct = true))
        .select(col("doc_id"),
          array_min(col("h")).as("fp_min"),
          array_max(col("h")).as("fp_max"),
          size(col("h")).cast("long").as("n_shingles"))
        .orderBy("doc_id")),

    // Unigram surprisal scoring (round 5): per-doc total and mean
    // -ln p(token) under the corpus's own unigram distribution — the
    // cheap perplexity proxy curation pipelines use to flag gibberish
    // (high surprisal) and boilerplate (low). Determinism: each term is
    // tf * round(-ln(cnt/total), 12) cast to exact decimal BEFORE the
    // sum (float sums are order-dependent; decimal sums are not), the
    // total re-rounds to 6dp, and the mean divides two already-portable
    // values in double. Scale: two token-keyed two-phase aggs + a 1-row
    // broadcast total + one (doc_id, token)-keyed agg — no collects.
    "q_unigram_logprob" -> ((s, d) => {
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      // Round-17 (guide §2.3): the unigram counts are the exact sums of
      // the per-(doc, token) tf frame, and the corpus total the exact
      // sum of those — ONE corpus explode pass feeds all three
      // aggregates instead of three.
      val cnts = tf.groupBy("token").agg(sum(col("tf")).as("cnt"))
      val tot = cnts.agg(sum(col("cnt")).as("total"))
      tf.join(cnts, "token").crossJoin(broadcast(tot))
        .select(col("doc_id"), col("tf"),
          // Round-7 hardening of the round-5 accepted risk: terms
          // pre-round at 12dp (was 9). A 1-ulp ln() divergence that
          // flips a 12dp rounding shifts the term by 1e-12, which can
          // only reach the 6dp-rounded total if THAT also sits within
          // 1e-12 of a boundary — the compound probability per term
          // drops by ~1e-6 vs the direct-ulp class, and any specific
          // corpus value sitting exactly on a 9dp boundary almost
          // surely does not sit on a 12dp one. Validated hash-identical
          // at sf0.01 and sf0.1.
          (col("tf").cast("decimal(8,0)") *
            round(-log(col("cnt").cast("double") / col("total")), 12)
              .cast("decimal(20,12)")).as("term"))
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_tok"),
          round(sum(col("term")), 6).cast("double").as("total_surprise"))
        .select(col("doc_id"), col("n_tok"), col("total_surprise"),
          round(col("total_surprise") / col("n_tok"), 6)
            .as("avg_surprise"))
        .orderBy("doc_id")
    }),

    // Interpolated bigram LM scoring (round 7) — the CCNet/KenLM-class
    // quality signal one rung above q_unigram_logprob: per-doc average
    // negative log-likelihood under a corpus-trained bigram model with
    // unigram interpolation, p(w2|w1) = 0.7 c(w1,w2)/c(w1) + 0.3 c(w2)/N.
    // High avg_nll = text the corpus's own language model finds
    // surprising (boilerplate-free gibberish, OCR noise); low = rote
    // repetition — the standard perplexity-window filter.
    //
    // Determinism: the probability is pure IEEE double arithmetic in the
    // SAME expression shape on both engines (integer-ratio divisions,
    // two multiplies, one add — each correctly-rounded, no sum-order
    // freedom), and the one libm call (ln) pre-rounds at 12dp into exact
    // decimal before the per-doc sum — q_unigram_logprob's hardened
    // recipe, validated hash-identical at both scales.
    //
    // Scale shape: adjacency comes from a per-DOC window (group size =
    // doc length, BOUNDED by construction — not the per-corpus-key class
    // the r06 verdict killed); the model tables are two-phase aggs and
    // the scoring joins key on (w1,w2)/w1/w2 — shuffles carry the bigram
    // stream, nothing collects, the 1-row total broadcasts. At 100 TB
    // the unigram/bigram model tables are vocabulary-sized; AQE
    // broadcasts them when they fit, hash-joins otherwise.
    "q_perplexity_bigram" -> ((s, d) => {
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
        .filter(col("w") =!= "")
      val big = toks
        .withColumn("w1", lag("w", 1)
          .over(Window.partitionBy("doc_id").orderBy("pos")))
        .filter(col("w1").isNotNull)
        .select(col("doc_id"), col("w1"), col("w").as("w2"))
      val c2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
      val c1 = toks.groupBy("w").agg(count(lit(1)).as("n1"))
      // Round-17 (guide §2.3): same total-from-counts derivation as
      // q_pmi_collocations — one fewer corpus explode pass.
      val tot = c1.agg(sum(col("n1")).as("n_total"))
      // Terms ride as exact integer PICO-units (k = term * 1e12, a
      // long: the 12dp decimal is integral there), and BOTH roundings —
      // total at 6dp, the per-bigram average at 6dp — are half-up
      // integer arithmetic: floor((2S + m) / 2m). The first cut rounded
      // the double quotient total/n instead, and the sf0.1 gate caught
      // 2/5000 cells sitting on a .5e-6 boundary where Spark (decimal
      // repr, half-up) and DuckDB (binary value) disagree — the exact
      // class the round-6 embedding-projection fix documents. (Terms
      // are nonnegative — p <= 1 by construction — so the unsigned
      // formula is safe.)
      big.join(c2, Seq("w1", "w2"))
        .join(c1.select(col("w").as("w1"), col("n1").as("n1w1")), "w1")
        .join(c1.select(col("w").as("w2"), col("n1").as("n1w2")), "w2")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"),
          (round(-log(lit(0.7)
              * (col("n2").cast("double") / col("n1w1"))
            + lit(0.3)
              * (col("n1w2").cast("double") / col("n_total"))), 12)
            .cast("decimal(20,12)")
            * lit(1000000000000L).cast("decimal(13,0)"))
            .cast("long").as("t12"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("t12")).as("s12"))
        .select(col("doc_id"), col("n_bigrams"),
          (expr("(2*s12 + 1000000) div 2000000").cast("double") / 1e6)
            .as("total_nll"),
          (expr("(2*s12 + n_bigrams*1000000) div (2*n_bigrams*1000000)")
            .cast("double") / 1e6).as("avg_nll"))
        .orderBy("doc_id")
    }),

    // PMI collocation mining (round 7) — the multi-word-expression /
    // stop-phrase discovery stage: pointwise mutual information
    // ln(p(w1,w2) / (p(w1) p(w2))) over corpus-adjacent bigrams with a
    // min-support floor (n2 >= 5, the standard small-count PMI guard).
    // High-PMI pairs are collocations ("los angeles"); near-zero pairs
    // are chance adjacency — the table feeds tokenizer merges and
    // boilerplate phrase lists. Same tokenization/adjacency as
    // q_perplexity_bigram; the PMI argument is computed as
    // (n2/c(w1)) * (N/c(w2)) — divisions FIRST, so the arithmetic
    // stays in range at any corpus size (count products overflow a
    // long at ~1e9-token corpora) and the expression shape is
    // identical on both engines. Post-floor the bigram table is tiny;
    // the joins key on words, two-phase aggs underneath — scale-sane.
    "q_pmi_collocations" -> ((s, d) => {
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
        .filter(col("w") =!= "")
      val big = toks
        .withColumn("w1", lag("w", 1)
          .over(Window.partitionBy("doc_id").orderBy("pos")))
        .filter(col("w1").isNotNull)
        .select(col("w1"), col("w").as("w2"))
      val c2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
        .filter(col("n2") >= 5)
      val c1 = toks.groupBy("w").agg(count(lit(1)).as("n1"))
      // Round-17 (guide §2.3): N is the exact sum of the unigram counts
      // — no third corpus explode pass for a 1-row total.
      val tot = c1.agg(sum(col("n1")).as("n_total"))
      c2.join(c1.select(col("w").as("w1"), col("n1").as("n1w1")), "w1")
        .join(c1.select(col("w").as("w2"), col("n1").as("n1w2")), "w2")
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("n2"),
          round(log((col("n2").cast("double") / col("n1w1"))
            * (col("n_total").cast("double") / col("n1w2"))), 6)
            .as("pmi"))
        .orderBy("w1", "w2")
    }),

    // phi-frequent heavy hitters (round 5): every token whose share of
    // total occurrences is >= 1%, with document frequency — the skew
    // diagnosis a curation pipeline runs before choosing stop-shingle
    // caps (q_dedup_ngram_jaccard's df-cap) or salting keys. Shape: one
    // explode feeding a two-phase HashAggregate (map-side partial
    // counts), a 1-row broadcast of the total, TakeOrdered output; the
    // full token list never reaches the driver. Filter on the ROUNDED
    // share so both engines agree at the threshold boundary.
    "q_heavy_hitters" -> ((s, d) => {
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
      val counts = toks.groupBy("token")
        .agg(count(lit(1)).as("occurrences"),
          countDistinct(col("doc_id")).as("doc_freq"))
      // Round-17 (guide §2.3): the corpus total is the exact sum of the
      // per-token counts — derive it from the O(vocab) frame instead of
      // re-running the corpus explode a second time.
      val total = counts.agg(sum(col("occurrences")).as("total"))
      counts.crossJoin(broadcast(total))
        .withColumn("share",
          round(col("occurrences").cast("double") / col("total"), 6))
        .filter(col("share") >= 0.01)
        .select("token", "occurrences", "doc_freq", "share")
        .orderBy(col("occurrences").desc, col("token").asc)
    }),

    // Per-doc top-3 TF-IDF keywords (round 5): the keyword-extraction /
    // topic-tagging primitive. tf and df are exact two-phase aggregates
    // over one explode; n_docs is a 1-row broadcast; ranking uses the
    // 6dp-ROUNDED score (ln may differ in the last ulp across engines)
    // with token tie-break, so the rank-3 cut is engine-deterministic.
    // Scale: shuffles are keyed on (doc_id, token) then token — never a
    // driver collect; the window partitions by doc_id (bounded rows per
    // doc).
    "q_tfidf_keywords" -> ((s, d) => {
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val nd = Tables(s, d, "documents")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      val scored = tf.join(dfq, "token").crossJoin(broadcast(nd))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("token").asc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk").cast("long").as("rk"),
          col("token"), col("tfidf"))
        .orderBy(col("doc_id").asc, col("rk").asc)
    }),

    // Exact 3-gram Jaccard near-dup pairs >= 0.8: the oracle ground truth
    // the approximate dedup family (AnnOps) is tested against. The join
    // key is the 60-bit shingle hash, not the string — an 8-byte shuffle
    // key instead of ~25-byte text; both engines hash identically, so
    // results match even in the (negligible) collision case.
    //
    // 100-TB knob (round-4 verdict #6): `spark.graft.shingleDfCap` = N
    // drops shingles appearing in more than N documents from CANDIDATE
    // generation — a boilerplate shingle shared by millions of docs
    // would otherwise contribute O(df^2) join rows on its own. The cap
    // trims only which pairs get considered; every surviving candidate
    // is re-verified against the FULL shingle sets, so reported jaccard
    // scores are exact and a pair is lost only if it shares NOTHING
    // rarer than the cap (such pairs are boilerplate-only overlaps —
    // the standard stop-shingle trade). Unset/0 = exact single-pass
    // plan, unchanged at fixture scale.
    // Round-17 fan-back re-plan (r16 verdict #3 generalized — this key
    // scaled 20.3x on the 10x sf1 step): detector on the exact-canonical
    // corpus, raw pairs reconstructed through the class membership
    // frame. inter/jaccard are digest-class-invariant (same digest ⇒
    // same shingle set), so cross-class pairs fan verbatim (both
    // symmetric) and a dup class with >= 1 shingle self-pairs at
    // inter = |set|, jaccard 1. Oracle unchanged — raw semantics — so
    // the sf0.01 hash gate checks the reconstruction itself.
    "q_dedup_ngram_jaccard" -> ((s, d) => {
      // Round-17 optimization pass: the candidate-pair filter and the
      // within-class frame each feed exactly ONE consumer below, so the
      // former per-stage checkpoints (pairs / withinM) were pure job
      // barriers — everything upstream they could recompute is already
      // persisted inside classFanBack (canon / mem / sh). One final
      // materializeAndFree releases all three handles (guide §1.2:
      // fewer sequential actions, same exchanges).
      val (canon, mem, sized, withinCls, sh, fanOut) = classFanBack(s, d)
      val pairs = sized
        .select(col("d1"), col("d2"), col("inter"),
          round(col("inter").cast("double")
            / (col("n1") + col("n2") - col("inter")), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
      // Replica-free short-circuit (round 18, r17 verdict #4): every
      // class is a singleton, so the membership joins map each
      // canonical pair to itself and withinCls is empty — the
      // canonical pairs ARE the raw pairs.
      val out = if (!fanOut) pairs else {
        val cross = pairs
          .join(mem.select(col("cdoc").as("d1"), col("doc_id").as("x")),
            "d1")
          .join(mem.select(col("cdoc").as("d2"), col("doc_id").as("y")),
            "d2")
          .select(least(col("x"), col("y")).as("d1"),
            greatest(col("x"), col("y")).as("d2"),
            col("inter"), col("jaccard"))
        val within = withinCls
          .join(mem.select(col("ckey"), col("doc_id").as("x")), "ckey")
          .join(mem.select(col("ckey"), col("doc_id").as("y")), "ckey")
          .filter(col("x") < col("y"))
          .select(col("x").as("d1"), col("y").as("d2"),
            col("n_sh").as("inter"), lit(1.0).as("jaccard"))
        cross.unionByName(within)
      }
      materializeAndFree(out, canon, mem, sh)
        .orderBy("d1", "d2")
    }),

    // ── Containment near-subset detection (round 10) ─────────────────
    // Broder's containment coefficient C(A→B) = |A∩B| / |A| — the
    // quote/boilerplate/near-subset detector Jaccard misses: a short
    // document fully embedded in a long one scores high containment but
    // low Jaccard (the union is dominated by the long side), so a
    // Jaccard-only dedup pass keeps both copies of the quoted text.
    // Same 60-bit shingle currency and candidate plan as
    // q_dedup_ngram_jaccard (including the shingleDfCap knob — the
    // df^2-bounding trade is identical); the only new work is the
    // directional normalization, a projection of the tiny verified pair
    // list (each undirected candidate yields two directed rows), so the
    // 100-TB scale shape is exactly jaccard's. Threshold 0.85: the
    // fixture shows a clean margin (no background pair above 0.6).
    "q_dedup_containment" -> ((s, d) => {
      // undirected (d1 < d2) intersection counts, exact — the df cap
      // only trims candidate generation, as in jaccard (shared helper).
      // Both directions of a pair come from ONE explode of the sized
      // row: the former unionByName of two projections re-ran the whole
      // candidate self-join per side (sized is lazy — round 16,
      // measured ~2x the jaccard twin's time for identical machinery).
      // Round-17 fan-back (19.9x on the sf1 step): detector on the
      // canonical corpus, directed raw rows reconstructed — a directed
      // canonical row (a→b) fans to members(a) x members(b) verbatim
      // (containment is class-invariant and direction rides the row,
      // so no side-swap is needed), and a dup class with >= 1 shingle
      // contributes all n(n-1) ordered member pairs at containment 1.
      // Round-17 optimization pass: single-consumer stages compose
      // lazily (no per-stage checkpoint barriers — the jaccard twin's
      // comment); one final materializeAndFree releases every handle.
      val (canon, mem, sized, withinCls, sh, fanOut) = classFanBack(s, d)
      val dir = sized.select(explode(array(
          struct(col("d1").as("d_sub"), col("d2").as("d_super"),
            col("inter"),
            round(col("inter").cast("double") / col("n1"), 6)
              .as("containment")),
          struct(col("d2").as("d_sub"), col("d1").as("d_super"),
            col("inter"),
            round(col("inter").cast("double") / col("n2"), 6)
              .as("containment")))).as("r"))
        .select(col("r.d_sub").as("d_sub"), col("r.d_super").as("d_super"),
          col("r.inter").as("inter"), col("r.containment").as("containment"))
        .filter(col("containment") >= 0.85)
      // Replica-free short-circuit (round 18, r17 verdict #4): see the
      // jaccard twin — the directed canonical rows ARE the raw rows.
      val out = if (!fanOut) dir else {
        val cross = dir
          .join(mem.select(col("cdoc").as("d_sub"), col("doc_id").as("x")),
            "d_sub")
          .join(mem.select(col("cdoc").as("d_super"),
            col("doc_id").as("y")), "d_super")
          .select(col("x").as("d_sub"), col("y").as("d_super"),
            col("inter"), col("containment"))
        val within = withinCls
          .join(mem.select(col("ckey"), col("doc_id").as("x")), "ckey")
          .join(mem.select(col("ckey"), col("doc_id").as("y")), "ckey")
          .filter(col("x") =!= col("y"))
          .select(col("x").as("d_sub"), col("y").as("d_super"),
            col("n_sh").as("inter"), lit(1.0).as("containment"))
        cross.unionByName(within)
      }
      materializeAndFree(out, canon, mem, sh)
        .orderBy("d_sub", "d_super")
    }),

    // ── Fuzzy edit-distance dedup (round 10) ─────────────────────────
    // Levenshtein-verified near-dup pairs — the SEQUENTIAL similarity
    // the set-based family can't express: Jaccard/containment see bags
    // of shingles (insensitive to order and to how edits cluster), while
    // edit distance certifies "B is A with <= 20% of its characters
    // changed" — the contract record-linkage and plagiarism pipelines
    // actually want. The O(len^2) DP per pair is far too expensive to
    // run on all candidates, so the shape is the production two-stage
    // verify: the cheap set-similarity prefilter (the proven
    // ngram-jaccard candidate machinery at a permissive 0.5 bar,
    // including the shingleDfCap knob) bounds the candidate list, and
    // the quadratic-per-pair levenshtein runs ONLY on that tiny list
    // with both texts joined back by doc_id. Everything compared is an
    // exact integer (edit distance, lengths), so the 6dp relative-edit
    // quotient is engine-identical by construction.
    // Round-17 re-plan (r16 verdict #3 — the suite's worst scaler:
    // 46.4 s / 31.6x at sf1): the permissive 0.5 candidate bar made
    // this the last detector still paying the replica quadratic — on a
    // 10x-replicated drop every copy-pair re-entered the candidate
    // join AND re-ran the O(len²) levenshtein DP. Every emitted column
    // reads only the two RAW text values, so the verdict is invariant
    // across byte-identical docs; the detector therefore runs once per
    // distinct RAW text (md5(text) class — stricter than the dedup
    // family's lower(trim) digest precisely because levenshtein is
    // case/whitespace-sensitive, so this needs NO fixture assumption),
    // and the raw pair list is reconstructed exactly:
    //   cross-class: each verified canonical pair fans to members x
    //     members via two equi-joins (output-proportional — the
    //     contract is the full pair list), len1/len2 swapped when the
    //     reordered ids swap sides;
    //   within-class: byte-identical docs are candidates iff the text
    //     has >= 1 shingle (as on the raw plan) and then score
    //     edit 0 / rel 0 / dup — a members self-join per dup class.
    // Oracle unchanged (raw semantics) — the sf0.01 hash gate checks
    // the reconstruction, not a re-statement of it.
    "q_dedup_fuzzy_edit" -> ((s, d) => {
      val (canon, mem, sized, withinCls, sh, fanOut) =
        classFanBack(s, d, t => md5(t.cast("binary")))
      val cands = sized
        .filter(round(col("inter").cast("double")
          / (col("n1") + col("n2") - col("inter")), 6) >= 0.5)
        .select("d1", "d2")
      val t = canon.select(col("doc_id"), col("text"))
      // O(len²) DP once per distinct-text candidate pair — the win.
      // Round-17 optimization pass: cands → verified → cross is a
      // single-consumer chain over persisted inputs, so it composes
      // lazily (the former per-stage checkpoints were pure job
      // barriers); one final materializeAndFree releases every handle.
      val verified = cands
        .join(t.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
        .join(t.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
        .select(col("d1"), col("d2"),
          length(col("t1")).cast("long").as("len1"),
          length(col("t2")).cast("long").as("len2"),
          levenshtein(col("t1"), col("t2")).cast("long").as("edit_dist"))
      // Replica-free short-circuit (round 18, r17 verdict #4): the
      // verified canonical pairs ARE the raw pairs (d1 < d2 already
      // holds on canonical ids, so the least/greatest projection is
      // the identity) and no class can self-pair.
      val base = if (!fanOut) verified else {
        val cross = verified
          .join(mem.select(col("cdoc").as("d1"), col("doc_id").as("x")),
            "d1")
          .join(mem.select(col("cdoc").as("d2"), col("doc_id").as("y")),
            "d2")
          .select(least(col("x"), col("y")).as("d1"),
            greatest(col("x"), col("y")).as("d2"),
            when(col("x") < col("y"), col("len1")).otherwise(col("len2"))
              .as("len1"),
            when(col("x") < col("y"), col("len2")).otherwise(col("len1"))
              .as("len2"),
            col("edit_dist"))
        val within = withinCls
          .join(mem.select(col("ckey"), col("doc_id").as("x")), "ckey")
          .join(mem.select(col("ckey"), col("doc_id").as("y")), "ckey")
          .filter(col("x") < col("y"))
          .select(col("x").as("d1"), col("y").as("d2"),
            col("len").as("len1"), col("len").as("len2"),
            lit(0L).as("edit_dist"))
        cross.unionByName(within)
      }
      materializeAndFree(base
        .withColumn("rel_edit", round(col("edit_dist").cast("double")
          / greatest(col("len1"), col("len2")), 6))
        .withColumn("is_dup", col("rel_edit") <= 0.2), canon, mem, sh)
        .orderBy("d1", "d2")
    }),

    // ── N-gram novelty (round 10) ────────────────────────────────────
    // Per-doc fraction of its distinct 3-gram shingles that first appear
    // in THIS doc (first occurrence = min doc_id over the corpus) — the
    // incremental-corpus growth signal: a drop whose docs score near 0
    // adds nothing the corpus hasn't seen (the aggregate view of what
    // q_dedup_containment detects pairwise), near 1 is fresh content.
    // Same 60-bit shingle currency as the dedup family. Scale shape: two
    // 8-byte-key two-phase aggs over ONE cached shingle explode (per-
    // shingle min doc_id, per-doc shingle counts) + an O(n_docs) doc-keyed
    // left join — shuffle volume O(total shingles), never a shingle-wide
    // join and never n². Docs under 3 tokens have no shingles and drop out
    // identically on both engines (explode and unnest agree).
    "q_ngram_novelty" -> ((s, d) => {
      // eager fill: one md5 pass for both aggregations
      val sh = persistEager(Tables(s, d, "documents")
        .select(col("doc_id"),
          explode(graft.functions.ShingleHash60(s, col("text"), 3,
            distinct = true)).as("s")))
      val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val novel = sh.groupBy("s").agg(min("doc_id").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("nn"))
      val out = perDoc.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("nn"), lit(0L)).as("n_novel"),
          round(coalesce(col("nn"), lit(0L)).cast("double")
            / col("n_shingles"), 6).as("novelty"))
      materializeAndFree(out, sh).orderBy("doc_id")
    }),

    // ── Zipf rank-frequency fit (round 10) ───────────────────────────
    // Log-log OLS fit of the token rank-frequency curve over the top-100
    // vocabulary head — the corpus-health diagnostic next to
    // q_entropy_per_source: natural text tracks slope ≈ -1 (Zipf's
    // law); a much shallower slope flags templated/synthetic content, a
    // much steeper one a collapsed vocabulary — both reasons to hold a
    // crawl drop before it feeds training. Determinism: the head cut is
    // totally ordered (count desc, token asc — q_vocab_coverage's
    // boundary scheme), ln(rank)/ln(count) pre-round at 12dp into exact
    // decimals (q_unigram_logprob's ln-parity scheme) so the OLS sums
    // are order-independent, and the closed-form slope/intercept then
    // run one fixed double expression on 8dp-rounded sums. Scale shape:
    // one token two-phase agg + a top-K TakeOrdered; the window rank
    // and the OLS run on the 100-row head — output is 1 row at any
    // corpus size.
    "q_zipf_fit" -> ((s, d) => {
      val toks = Tables(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
      val head = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc).limit(100)
      val ranked = head.withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("token").asc)).cast("long"))
      // Operand widths are deliberately tight: x = ln(rank<=100) < 10
      // fits DECIMAL(13,12), y = ln(cnt) < 100 for any count below
      // e^100 fits DECIMAL(14,12), so x*y is DECIMAL(28,24) and x*x
      // DECIMAL(27,24) — inside the 38-digit max on BOTH engines. At
      // DECIMAL(20,12) the products hit width 41 and DuckDB silently
      // fell back to DOUBLE (order-dependent float sums) while Spark
      // kept a scale-truncated decimal, leaving the determinism claim
      // a knife-edge at the 8dp round (round-10 advice, medium).
      val terms = ranked.select(
        round(log(col("rank").cast("double")), 12)
          .cast("decimal(13,12)").as("x"),
        round(log(col("cnt").cast("double")), 12)
          .cast("decimal(14,12)").as("y"))
      val sums = terms.agg(
        count(lit(1)).as("n_points"),
        round(sum(col("x")), 8).cast("double").as("sx"),
        round(sum(col("y")), 8).cast("double").as("sy"),
        round(sum(col("x") * col("y")), 8).cast("double").as("sxy"),
        round(sum(col("x") * col("x")), 8).cast("double").as("sxx"))
      val slope = (col("n_points") * col("sxy") - col("sx") * col("sy")) /
        (col("n_points") * col("sxx") - col("sx") * col("sx"))
      sums.select(col("n_points"),
        round(slope, 6).as("slope"),
        round((col("sy") - slope * col("sx")) / col("n_points"), 6)
          .as("intercept"))
    }),

    // ── BM25 lexical search (round 10) ───────────────────────────────
    // Okapi BM25 top-10 retrieval for a literal query ("spark window
    // join") — the LEXICAL search leg next to the ANN/embedding family:
    // retrieval-augmented pipelines and dedup triage both need exact
    // term search over the corpus, and BM25 is its standard scoring.
    // k1=1.2, b=0.75, Lucene's non-negative idf = ln((N-df+0.5)/(df+0.5)
    // + 1). Determinism: per-term tf/df/doc-length are exact integers;
    // idf pre-rounds at 12dp (the q_unigram_logprob ln-parity scheme);
    // the per-doc score is a FIXED three-term expression (s0+s1+s2 in
    // literal order — no float aggregation anywhere), rounded at 6dp
    // with doc_id tie-break for a total order. Scale shape: tf columns
    // are stateless array-HOF projections riding the ONE corpus scan,
    // df/avgdl is a single 1-row agg broadcast back, and the top-k is
    // TakeOrderedAndProject (per-partition heaps, never a global sort).
    // At 100 TB the 1-row stats frame is the only non-scan work, and an
    // inverted-index source would slot in at the tf projection seam.
    "q_bm25_search" -> ((s, d) => {
      val qterms = Seq("spark", "window", "join")
      val tok = split(lower(col("text")), " ")
      val base0 = Tables(s, d, "documents")
        .select(col("doc_id"), tok.as("tok"))
        .withColumn("dl",
          size(filter(col("tok"), t => t =!= "")).cast("long"))
      val base = qterms.zipWithIndex.foldLeft(base0) { case (acc, (t, i)) =>
        acc.withColumn(s"tf$i",
          size(filter(col("tok"), x => x === t)).cast("long"))
      }.drop("tok")
      val stats = base.agg(
        count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl") +:
          qterms.indices.map(i =>
            sum((col(s"tf$i") > 0).cast("long")).as(s"df$i")): _*)
      val avgdl = col("sum_dl").cast("double") / col("n_docs")
      val scored = base.crossJoin(broadcast(stats))
      val norm = lit(1.2) * (lit(0.25) +
        lit(0.75) * (col("dl").cast("double") / avgdl))
      val score = qterms.indices.map { i =>
        val idf = round(
          log(((col("n_docs") - col(s"df$i")).cast("double") + lit(0.5))
            / (col(s"df$i").cast("double") + lit(0.5)) + lit(1.0)), 12)
        idf * (col(s"tf$i").cast("double") * lit(2.2)) /
          (col(s"tf$i").cast("double") + norm)
      }.reduceLeft(_ + _)
      val top = scored
        .select(col("doc_id"), col("dl"),
          col("tf0").as("tf_spark"), col("tf1").as("tf_window"),
          col("tf2").as("tf_join"),
          round(score, 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(10)
      top.withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc))
          .cast("long"))
        .orderBy("rank")
    }),

    // ── Vocabulary coverage / OOV rate (round 10) ────────────────────
    // Per-source out-of-vocabulary rate under the corpus's own top-200
    // token vocabulary — the tokenizer-fit diagnostic run before training
    // (a source with high OOV under the deployed vocab inflates sequence
    // length and cost; feeds vocab-size choice next to q_bpe_tokenize).
    // Vocab cut is a total order (count desc, token asc) so the rank-200
    // boundary is engine-deterministic. Scale shape: one token two-phase
    // agg, a top-K TakeOrdered (O(K) per partition, no global sort), the
    // 200-row vocab BROADCAST back over the token stream, one per-source
    // agg — the corpus is scanned twice and never shuffled on anything
    // wider than the token key.
    "q_vocab_coverage" -> ((s, d) => {
      val toks = Tables(s, d, "documents")
        .select(col("source"),
          explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc).limit(200)
        .select(col("token"), lit(1L).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("total_tokens"),
          count(col("in_vocab")).as("in_vocab_tokens"))
        .withColumn("oov_rate",
          round(lit(1.0) - col("in_vocab_tokens").cast("double")
            / col("total_tokens"), 6))
        .orderBy("source")
    }),
  )

  private val profSql = langProfiles.map { case (lang, words) =>
    val set = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(lower(text), ' '), t -> t IN ($set))) AS s_$lang"
  }.mkString(",\n  ")

  val oracle: Map[String, String] = Map(
    "q_lang_id" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang, $profSql
         |  FROM documents)
         |SELECT doc_id, lang, s_en, s_es, s_de, s_fr,
         |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
         |       WHEN s_de >= s_fr THEN 'de'
         |       ELSE 'fr' END AS pred_lang
         |FROM scored ORDER BY doc_id""".stripMargin,

    "q_quality_score" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    len(string_split(lower(text), ' ')) AS n_tok,
         |    len(list_filter(string_split(lower(text), ' '),
         |        t -> t IN (${stopwords.map(w => s"'$w'").mkString(", ")}))) AS n_stop,
         |    length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha_chars
         |  FROM documents)
         |SELECT doc_id, n_tok, n_stop, alpha_chars,
         |  round(CAST(alpha_chars AS DOUBLE) / n_tok, 4) AS avg_tok_len,
         |  round(CAST(n_stop AS DOUBLE) / n_tok, 4) AS stop_ratio,
         |  round(least(1.0, CAST(n_tok AS DOUBLE) / 200.0) * 0.5
         |        + (CAST(n_stop AS DOUBLE) / n_tok) * 0.5, 4) AS quality
         |FROM t ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_pieces,
        |  length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    [array_to_string(tok[i+1:i+4], ' ') for i in range(len(tok)-3)] AS sl
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
        |        FROM documents)),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(sl,
        |      s -> CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)) AS hashes,
        |    sl
        |  FROM sh)
        |SELECT doc_id,
        |  list_aggregate(hashes, 'min') AS fp_min,
        |  list_aggregate(hashes, 'max') AS fp_max,
        |  len(list_distinct(sl)) AS n_shingles
        |FROM h ORDER BY doc_id""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5(unnest(list_distinct(
        |      [array_to_string(tok[i+1:i+3], ' ')
        |       for i in range(len(tok)-2)]))), 1, 15)) AS BIGINT) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
        |        FROM documents)),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, inter,
        |  round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6) AS jaccard
        |FROM inter
        |JOIN sz s1 ON s1.doc_id = d1
        |JOIN sz s2 ON s2.doc_id = d2
        |WHERE round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6) >= 0.8
        |ORDER BY d1, d2""".stripMargin,

    "q_dedup_containment" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5(unnest(list_distinct(
        |      [array_to_string(tok[i+1:i+3], ' ')
        |       for i in range(len(tok)-2)]))), 1, 15)) AS BIGINT) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
        |        FROM documents)),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dir AS (
        |  SELECT d1 AS d_sub, d2 AS d_super, inter,
        |    round(CAST(inter AS DOUBLE) / s1.n, 6) AS containment
        |  FROM inter JOIN sz s1 ON s1.doc_id = d1
        |  UNION ALL
        |  SELECT d2, d1, inter,
        |    round(CAST(inter AS DOUBLE) / s2.n, 6)
        |  FROM inter JOIN sz s2 ON s2.doc_id = d2)
        |SELECT d_sub, d_super, inter, containment
        |FROM dir WHERE containment >= 0.85
        |ORDER BY d_sub, d_super""".stripMargin,

    "q_dedup_fuzzy_edit" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5(unnest(list_distinct(
        |      [array_to_string(tok[i+1:i+3], ' ')
        |       for i in range(len(tok)-2)]))), 1, 15)) AS BIGINT) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
        |        FROM documents)),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sz s1 ON s1.doc_id = d1
        |  JOIN sz s2 ON s2.doc_id = d2
        |  WHERE round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6)
        |        >= 0.5),
        |v AS (
        |  SELECT d1, d2,
        |    length(a.text) AS len1, length(b.text) AS len2,
        |    levenshtein(a.text, b.text) AS edit_dist
        |  FROM cand
        |  JOIN documents a ON a.doc_id = d1
        |  JOIN documents b ON b.doc_id = d2)
        |SELECT d1, d2,
        |  CAST(len1 AS BIGINT) AS len1, CAST(len2 AS BIGINT) AS len2,
        |  CAST(edit_dist AS BIGINT) AS edit_dist,
        |  round(CAST(edit_dist AS DOUBLE) / greatest(len1, len2), 6)
        |    AS rel_edit,
        |  round(CAST(edit_dist AS DOUBLE) / greatest(len1, len2), 6)
        |    <= 0.2 AS is_dup
        |FROM v ORDER BY d1, d2""".stripMargin,

    "q_zipf_fit" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |head AS (
        |  SELECT token, COUNT(*) AS cnt
        |  FROM toks WHERE token <> '' GROUP BY token
        |  ORDER BY cnt DESC, token ASC LIMIT 100),
        |ranked AS (
        |  SELECT cnt,
        |    row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
        |  FROM head),
        |terms AS (
        |  SELECT
        |    CAST(round(ln(CAST(rank AS DOUBLE)), 12) AS DECIMAL(13,12)) AS x,
        |    CAST(round(ln(CAST(cnt AS DOUBLE)), 12) AS DECIMAL(14,12)) AS y
        |  FROM ranked),
        |sums AS (
        |  SELECT COUNT(*) AS n_points,
        |    CAST(round(SUM(x), 8) AS DOUBLE) AS sx,
        |    CAST(round(SUM(y), 8) AS DOUBLE) AS sy,
        |    CAST(round(SUM(x * y), 8) AS DOUBLE) AS sxy,
        |    CAST(round(SUM(x * x), 8) AS DOUBLE) AS sxx
        |  FROM terms)
        |SELECT CAST(n_points AS BIGINT) AS n_points,
        |  round((n_points * sxy - sx * sy)
        |        / (n_points * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n_points * sxy - sx * sy)
        |               / (n_points * sxx - sx * sx)) * sx)
        |        / n_points, 6) AS intercept
        |FROM sums""".stripMargin,

    "q_bm25_search" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(lower(text), ' '),
        |        t -> t <> '')) AS dl,
        |    len(list_filter(string_split(lower(text), ' '),
        |        t -> t = 'spark')) AS tf0,
        |    len(list_filter(string_split(lower(text), ' '),
        |        t -> t = 'window')) AS tf1,
        |    len(list_filter(string_split(lower(text), ' '),
        |        t -> t = 'join')) AS tf2
        |  FROM documents),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
        |    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM base),
        |scored AS (
        |  SELECT doc_id, dl, tf0, tf1, tf2,
        |    round(
        |      round(ln((CAST(n_docs - df0 AS DOUBLE) + 0.5)
        |          / (CAST(df0 AS DOUBLE) + 0.5) + 1.0), 12)
        |        * (CAST(tf0 AS DOUBLE) * 2.2)
        |        / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75
        |           * (CAST(dl AS DOUBLE)
        |              / (CAST(sum_dl AS DOUBLE) / n_docs))))
        |      + round(ln((CAST(n_docs - df1 AS DOUBLE) + 0.5)
        |          / (CAST(df1 AS DOUBLE) + 0.5) + 1.0), 12)
        |        * (CAST(tf1 AS DOUBLE) * 2.2)
        |        / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75
        |           * (CAST(dl AS DOUBLE)
        |              / (CAST(sum_dl AS DOUBLE) / n_docs))))
        |      + round(ln((CAST(n_docs - df2 AS DOUBLE) + 0.5)
        |          / (CAST(df2 AS DOUBLE) + 0.5) + 1.0), 12)
        |        * (CAST(tf2 AS DOUBLE) * 2.2)
        |        / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75
        |           * (CAST(dl AS DOUBLE)
        |              / (CAST(sum_dl AS DOUBLE) / n_docs)))), 6) AS score
        |  FROM base CROSS JOIN stats)
        |SELECT doc_id, CAST(dl AS BIGINT) AS dl,
        |  CAST(tf0 AS BIGINT) AS tf_spark,
        |  CAST(tf1 AS BIGINT) AS tf_window,
        |  CAST(tf2 AS BIGINT) AS tf_join, score,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id)
        |       AS BIGINT) AS rank
        |FROM scored
        |QUALIFY rank <= 10
        |ORDER BY rank""".stripMargin,

    "q_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM toks WHERE token <> '' GROUP BY doc_id, token),
        |c AS (SELECT token, count(*) AS cnt
        |      FROM toks WHERE token <> '' GROUP BY token),
        |t AS (SELECT count(*) AS total FROM toks WHERE token <> ''),
        |terms AS (
        |  SELECT tf.doc_id, tf.tf,
        |    CAST(tf.tf AS DECIMAL(8,0)) *
        |    CAST(round(-ln(CAST(c.cnt AS DOUBLE) / t.total), 12)
        |         AS DECIMAL(20,12)) AS term
        |  FROM tf JOIN c USING (token) CROSS JOIN t),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
        |    CAST(round(SUM(term), 6) AS DOUBLE) AS total_surprise
        |  FROM terms GROUP BY doc_id)
        |SELECT doc_id, n_tok, total_surprise,
        |  round(total_surprise / n_tok, 6) AS avg_surprise
        |FROM agg ORDER BY doc_id""".stripMargin,

    // Same expression shapes as the Spark side everywhere a double is
    // produced: integer-ratio divisions, 0.7/0.3 interpolation, ln
    // pre-rounded at 12dp into exact decimal before the per-doc sum.
    "q_perplexity_bigram" ->
      """WITH t0 AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w,
        |         generate_subscripts(string_split(lower(text), ' '), 1)
        |           AS pos
        |  FROM documents),
        |toks AS (SELECT * FROM t0 WHERE w <> ''),
        |big AS (
        |  SELECT doc_id,
        |         lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |         w AS w2
        |  FROM toks QUALIFY w1 IS NOT NULL),
        |c2 AS (SELECT w1, w2, count(*) AS n2 FROM big GROUP BY w1, w2),
        |c1 AS (SELECT w, count(*) AS n1 FROM toks GROUP BY w),
        |t AS (SELECT count(*) AS n_total FROM toks),
        |terms AS (
        |  SELECT b.doc_id,
        |    CAST(round(-ln(0.7 * (CAST(c2.n2 AS DOUBLE) / ca.n1)
        |                 + 0.3 * (CAST(cb.n1 AS DOUBLE) / t.n_total)), 12)
        |         AS DECIMAL(20,12)) AS term
        |  FROM big b
        |  JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
        |  JOIN c1 ca ON ca.w = b.w1
        |  JOIN c1 cb ON cb.w = b.w2
        |  CROSS JOIN t),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    SUM(CAST(term * 1000000000000 AS HUGEINT)) AS s12
        |  FROM terms GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |  CAST((2*s12 + 1000000) // 2000000 AS DOUBLE) / 1e6
        |    AS total_nll,
        |  CAST((2*s12 + n_bigrams*1000000) // (2*n_bigrams*1000000)
        |       AS DOUBLE) / 1e6 AS avg_nll
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q_pmi_collocations" ->
      """WITH t0 AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w,
        |         generate_subscripts(string_split(lower(text), ' '), 1)
        |           AS pos
        |  FROM documents),
        |toks AS (SELECT * FROM t0 WHERE w <> ''),
        |big AS (
        |  SELECT lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |         w AS w2
        |  FROM toks QUALIFY w1 IS NOT NULL),
        |c2 AS (SELECT w1, w2, count(*) AS n2 FROM big
        |       GROUP BY w1, w2 HAVING count(*) >= 5),
        |c1 AS (SELECT w, count(*) AS n1 FROM toks GROUP BY w),
        |t AS (SELECT count(*) AS n_total FROM toks)
        |SELECT c2.w1, c2.w2, CAST(c2.n2 AS BIGINT) AS n2,
        |  round(ln((CAST(c2.n2 AS DOUBLE) / ca.n1)
        |          * (CAST(t.n_total AS DOUBLE) / cb.n1)), 6) AS pmi
        |FROM c2
        |JOIN c1 ca ON ca.w = c2.w1
        |JOIN c1 cb ON cb.w = c2.w2
        |CROSS JOIN t
        |ORDER BY c2.w1, c2.w2""".stripMargin,

    "q_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |c AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS occurrences,
        |         CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
        |  FROM toks WHERE token <> '' GROUP BY token),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total
        |      FROM toks WHERE token <> '')
        |SELECT token, occurrences, doc_freq,
        |       round(CAST(occurrences AS DOUBLE) / total, 6) AS share
        |FROM c CROSS JOIN t
        |WHERE round(CAST(occurrences AS DOUBLE) / total, 6) >= 0.01
        |ORDER BY occurrences DESC, token ASC""".stripMargin,

    "q_tfidf_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM toks WHERE token <> '' GROUP BY doc_id, token),
        |d AS (SELECT token, count(*) AS df FROM t GROUP BY token),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.token,
        |         round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf
        |  FROM t JOIN d USING (token) CROSS JOIN n)
        |SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token ASC) AS BIGINT) AS rk,
        |  token, tfidf
        |FROM scored
        |QUALIFY rk <= 3
        |ORDER BY doc_id ASC, rk ASC""".stripMargin,

    "q_ngram_novelty" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5(unnest(list_distinct(
        |      [array_to_string(tok[i+1:i+3], ' ')
        |       for i in range(len(tok)-2)]))), 1, 15)) AS BIGINT) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
        |        FROM documents)),
        |per_doc AS (
        |  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
        |novel AS (
        |  SELECT doc_id, COUNT(*) AS nn
        |  FROM (SELECT s, MIN(doc_id) AS doc_id FROM sh GROUP BY s)
        |  GROUP BY doc_id)
        |SELECT p.doc_id, p.n_shingles,
        |  CAST(COALESCE(n.nn, 0) AS BIGINT) AS n_novel,
        |  round(CAST(COALESCE(n.nn, 0) AS DOUBLE) / p.n_shingles, 6)
        |    AS novelty
        |FROM per_doc p LEFT JOIN novel n ON n.doc_id = p.doc_id
        |ORDER BY p.doc_id""".stripMargin,

    "q_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT token, COUNT(*) AS cnt
        |  FROM toks WHERE token <> '' GROUP BY token),
        |vocab AS (
        |  SELECT token FROM tf ORDER BY cnt DESC, token ASC LIMIT 200)
        |SELECT t.source,
        |  COUNT(*) AS total_tokens,
        |  COUNT(v.token) AS in_vocab_tokens,
        |  round(1.0 - CAST(COUNT(v.token) AS DOUBLE) / COUNT(*), 6)
        |    AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON v.token = t.token
        |WHERE t.token <> ''
        |GROUP BY t.source
        |ORDER BY t.source""".stripMargin,
  )
}
