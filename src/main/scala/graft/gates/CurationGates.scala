package graft
package gates

import org.apache.spark.sql.functions._

import graft.Dedup.shingles
import graft.gates.Gate.{mdHash, sqlHash, sqlShinglesCte, t}

/** Curation, part two: the training-data passes over the documents table —
  * token and quality signals, LM scoring, rule and classifier filters, PII
  * and benchmark scrubbing, deterministic splits, sampling, mixing and
  * packing, and the multimodal payload plumbing. */
object CurationGates {

  val gates: Seq[Gate] = Seq(
    // ---- text analysis and quality signals ----
    Gate("text_tokens", (s, d) => {
      // token counting (whitespace) + distinct tokens
      t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"))
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct
        |FROM documents ORDER BY 1""".stripMargin),
    Gate("text_quality", (s, d) => {
      // quality scoring: length + mean token length (integer-exact)
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          (octet_length(col("text")) - (size(split(col("text"), " ")) - 1)).cast("long").as("alpha_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id, n_chars,
        |  strlen(text) - (len(string_split(text, ' ')) - 1) AS alpha_chars,
        |  len(string_split(text, ' ')) AS n_tokens
        |FROM documents ORDER BY 1""".stripMargin),
    Gate("text_fingerprint", (s, d) => {
      // document fingerprinting (content hash)
      t(s, d, "documents").select(col("doc_id"), md5(col("text")).as("fp")).orderBy("doc_id")
    },
      oracle = "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY 1"),
    Gate("lang_id", (s, d) => {
      // n-gram-marker language heuristic (oracle-mirrorable form)
      t(s, d, "documents")
        .select(col("doc_id"),
          when(col("text").contains(" the ") || col("text").startsWith("the "), "en")
            .otherwise("other").as("pred_lang"))
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id, CASE WHEN text LIKE '% the %' OR text LIKE 'the %'
        |  THEN 'en' ELSE 'other' END AS pred_lang
        |FROM documents ORDER BY 1""".stripMargin),
    Gate("text_unigram_logprob", (s, d) => {
      // CCNet-shape LM quality scoring: a model trained ON the corpus scores
      // each document's mean token log-probability; improbable token streams
      // (boilerplate, garbled text) score low and get filtered. CCNet's
      // KenLM 5-gram isn't in this container, so the model is the corpus
      // unigram LM — but the Spark shape is the production one: pass 1
      // aggregates the vocabulary distributed (map-side partial counts),
      // pass 2 joins the model back onto the token stream (AQE picks
      // broadcast vs shuffle by the REAL vocab size) and the corpus total
      // rides a one-row broadcast — no driver-side model, no collect.
      // score = sum(ln cnt)/n - ln(total); round(4) absorbs engine-order
      // FP noise in the sum, same contract as the cosine gates.
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum("cnt").as("total"))
      toks.join(vocab, "tok")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_tokens"),
          sum(log(col("cnt").cast("double"))).as("_sumlog"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("n_tokens"),
          round(col("_sumlog") / col("n_tokens")
            - log(col("total").cast("double")), 4).as("logprob"))
        .orderBy("doc_id")
    },
      oracle = """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |vocab AS (SELECT tok, count(*) AS cnt FROM t2 GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM vocab)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(sum(ln(cnt)) / count(*) - ln((SELECT total FROM tot)), 4) AS logprob
        |FROM t2 JOIN vocab USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Gate("ccnet_ppl_buckets", (s, d) => {
      // CCNet's head/middle/tail quality bucketing (arXiv:1911.00359 §3.3):
      // the corpus-trained LM scores each document and fixed calibration
      // thresholds cut the corpus into three quality tiers (CCNet computes
      // the cutoffs offline per language; here they are config constants).
      // The compare runs on an INTEGER score — round(logprob·1e4) — so the
      // bucket boundaries are integer-exact in both engines (an FP `<` at a
      // threshold would be sum-order-sensitive). Same two-pass distributed
      // shape as text_unigram_logprob (partial-agg vocab, model joined back
      // under AQE, one-row corpus total broadcast); the bucketing itself is
      // a per-row expression — zero added shuffles, no global sort/window
      // (a percentile-rank bucketing would need one; fixed thresholds are
      // both the production semantics and the 100 TB-safe plan).
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum("cnt").as("total"))
      toks.join(vocab, "tok")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n"),
          sum(log(col("cnt").cast("double"))).as("_sl"))
        .crossJoin(broadcast(total))
        .withColumn("ilp",
          round((col("_sl") / col("n") - log(col("total").cast("double"))) * 10000).cast("long"))
        .select(col("doc_id"), col("ilp"),
          when(col("ilp") >= -34000L, "head")
            .when(col("ilp") >= -34040L, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    },
      oracle = """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |vocab AS (SELECT tok, count(*) AS cnt FROM t2 GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM vocab),
        |sc AS (SELECT doc_id,
        |  CAST(round((sum(ln(cnt)) / count(*) - ln((SELECT total FROM tot))) * 10000) AS BIGINT) AS ilp
        |  FROM t2 JOIN vocab USING (tok) GROUP BY doc_id)
        |SELECT doc_id, ilp,
        |  CASE WHEN ilp >= -34000 THEN 'head'
        |       WHEN ilp >= -34040 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM sc ORDER BY doc_id""".stripMargin),
    Gate("vocab_topk", (s, d) => {
      // vocabulary induction's first pass (BPE / unigram tokenizer trainers
      // all start from global token frequencies): top-k tokens by corpus
      // count, ties broken by token for a deterministic cut. Scale shape:
      // partial/final hash aggregate (map-side combine absorbs hot tokens)
      // then TakeOrderedAndProject — each partition keeps only its k best,
      // the driver merges k·P candidate rows, the full vocabulary never
      // sorts globally and never lands on one node.
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("tok")).limit(100)
    },
      oracle = """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |)
        |SELECT tok, count(*) AS cnt FROM toks WHERE tok <> ''
        |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 100""".stripMargin),
    Gate("corpus_stats", (s, d) => {
      // the datasheet aggregation every corpus release ships (docs / tokens
      // / bytes / distinct-text dup-rate per language × source slice): one
      // partial-aggregating pass over the corpus. countDistinct is exact at
      // gate scale for oracle parity; at 100 TB swap in
      // approx_count_distinct (HLL sketch — same plan shape, mergeable,
      // no per-group value buffering).
      t(s, d, "documents").groupBy("lang", "source").agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("text")).as("n_uniq"))
        .orderBy("lang", "source")
    },
      oracle = """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(DISTINCT text) AS n_uniq
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
    Gate("corpus_stats_approx", (s, d) => {
      // the 100 TB datasheet plan GATED, not just documented: countDistinct's
      // Expand + double shuffle swapped for approx_count_distinct (HLL++,
      // rsd 5%) — one partial-aggregating pass, mergeable sketch, no
      // per-group value buffering (PlanQualitySpec asserts the approx plan
      // carries no Expand and exactly one agg exchange). Accuracy is part of
      // the gate: HLL++ is deterministic (fixed hash, no sampling), so
      // `hll_ok` — each group's estimate within 15% of the exact count,
      // compared in integer math — is oracle-checkable.
      val docs = t(s, d, "documents")
      val exact = docs.groupBy("lang", "source").agg(
        count(lit(1)).as("n_docs"), countDistinct(col("text")).as("n_uniq"))
      val hll = docs.groupBy("lang", "source").agg(
        approx_count_distinct(col("text"), 0.05).as("n_uniq_hll"))
      exact.join(hll, Seq("lang", "source"))
        .select(col("lang"), col("source"), col("n_docs"), col("n_uniq"),
          (abs(col("n_uniq_hll") - col("n_uniq")) * 100 <= col("n_uniq") * 15)
            .cast("long").as("hll_ok"))
        .orderBy("lang", "source")
    },
      // the exact columns are recomputed; hll_ok is Spark's own
      // accuracy certificate (HLL++ deterministic, bound in integer math)
      oracle = """SELECT lang, source, count(*) AS n_docs,
        |  count(DISTINCT text) AS n_uniq, CAST(1 AS BIGINT) AS hll_ok
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
    Gate("text_rep_ratio", (s, d) => {
      // within-doc repetition signal (the Gopher-style repetition filter):
      // duplicate 3-gram fraction per doc, integer-exact — flag_rep is
      // n_dup/n_sh >= 0.3 computed as n_dup*10 >= n_sh*3 so both engines
      // compare exact integers. Pure per-row expressions, no shuffle.
      val sh = shingles(split(col("text"), " "))
      t(s, d, "documents")
        .select(col("doc_id"), size(sh).cast("long").as("n_sh"),
          (size(sh) - size(array_distinct(sh))).cast("long").as("n_dup"))
        .withColumn("flag_rep",
          (col("n_dup") * 10 >= col("n_sh") * 3).cast("long"))
        .orderBy("doc_id")
    },
      oracle = s"""$sqlShinglesCte
         |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh,
         |  CAST(len(sh) - len(list_distinct(sh)) AS BIGINT) AS n_dup,
         |  CAST(CASE WHEN (len(sh) - len(list_distinct(sh))) * 10 >= len(sh) * 3
         |       THEN 1 ELSE 0 END AS BIGINT) AS flag_rep
         |FROM s ORDER BY doc_id""".stripMargin),
    Gate("text_length_stats", (s, d) => {
      // corpus length distribution — the sizing read a curator does before
      // choosing filter thresholds: doc count, mean, and exact interpolated
      // p50/p90/p99 over token counts in ONE partial-aggregating pass.
      // Exact percentile is the oracle-parity choice at gate scale; at
      // 100 TB swap percentile → approx_percentile (t-digest sketch, same
      // plan shape, no per-group value buffering).
      val nTok = size(split(col("text"), " ")).cast("long")
      t(s, d, "documents")
        .select(nTok.as("n_tok"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_tok")), 4).as("mean_tok"),
          round(expr("percentile(n_tok, 0.5D)"), 4).as("p50"),
          round(expr("percentile(n_tok, 0.9D)"), 4).as("p90"),
          round(expr("percentile(n_tok, 0.99D)"), 4).as("p99"))
    },
      oracle = """WITH n AS (SELECT len(string_split(text, ' ')) AS n_tok FROM documents)
        |SELECT count(*) AS n_docs, round(avg(n_tok), 4) AS mean_tok,
        |  round(quantile_cont(n_tok, 0.5), 4) AS p50,
        |  round(quantile_cont(n_tok, 0.9), 4) AS p90,
        |  round(quantile_cont(n_tok, 0.99), 4) AS p99
        |FROM n""".stripMargin),
    Gate("text_length_stats_approx", (s, d) => {
      // the 100 TB percentile swap GATED: approx_percentile (Greenwald-
      // Khanna quantile summary, accuracy 1000 ⇒ rank error ≤ 0.1%) next to
      // the exact interpolated percentiles. The sketch's merge order varies
      // with task scheduling, so its VALUE is not a stable oracle — its
      // rank-error CONTRACT is: each approx quantile must land between the
      // exact percentiles ±5 points (p99's upper bound is the max), true on
      // every run by the GK guarantee, checked here and recomputed exactly
      // by the oracle for the exact columns.
      val nTok = size(split(col("text"), " ")).cast("long")
      t(s, d, "documents")
        .select(nTok.as("n_tok"))
        .agg(count(lit(1)).as("n_docs"),
          round(expr("percentile(n_tok, 0.5D)"), 4).as("p50"),
          round(expr("percentile(n_tok, 0.9D)"), 4).as("p90"),
          round(expr("percentile(n_tok, 0.99D)"), 4).as("p99"),
          expr("percentile(n_tok, array(0.45D, 0.55D, 0.85D, 0.95D, 0.98D))")
            .as("bnd"),
          expr("approx_percentile(n_tok, array(0.5D, 0.9D, 0.99D), 1000)")
            .as("ap"),
          max(col("n_tok")).as("mx"))
        .select(col("n_docs"), col("p50"), col("p90"), col("p99"),
          (col("ap")(0) >= col("bnd")(0) && col("ap")(0) <= col("bnd")(1))
            .cast("long").as("ok_p50"),
          (col("ap")(1) >= col("bnd")(2) && col("ap")(1) <= col("bnd")(3))
            .cast("long").as("ok_p90"),
          (col("ap")(2) >= col("bnd")(4) && col("ap")(2) <= col("mx"))
            .cast("long").as("ok_p99"))
    },
      // exact percentiles recomputed; ok_* are Spark's rank-error
      // certificates for the GK sketch (guaranteed true at ε=0.1%)
      oracle = """WITH n AS (SELECT len(string_split(text, ' ')) AS n_tok FROM documents)
        |SELECT count(*) AS n_docs, round(quantile_cont(n_tok, 0.5), 4) AS p50,
        |  round(quantile_cont(n_tok, 0.9), 4) AS p90,
        |  round(quantile_cont(n_tok, 0.99), 4) AS p99,
        |  CAST(1 AS BIGINT) AS ok_p50, CAST(1 AS BIGINT) AS ok_p90,
        |  CAST(1 AS BIGINT) AS ok_p99
        |FROM n""".stripMargin),

    // ---- filters and scrubbing ----
    Gate("text_c4_filters", (s, d) => {
      // C4/Gopher-style rule filters (the heuristic pass that runs BEFORE
      // the model-based quality filters): terminal punctuation at the end,
      // a minimum sentence count, a mean-word-length band, and boilerplate
      // markers. The synthetic corpus has none of these defects, so
      // deterministic ones are spliced in from doc_id first (the
      // text_redact_pii pattern); all rules are integer-exact so both
      // engines agree without FP noise. Pure per-row expressions — they
      // fuse into the scan; at 100 TB this is a zero-shuffle pass.
      val raw = concat(col("text"),
        when(col("doc_id") % 13 === 0, lit(" lorem ipsum {boilerplate;}"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("."))
          .when(col("doc_id") % 4 === 1, lit("!"))
          .when(col("doc_id") % 4 === 2, lit(" and so on")).otherwise(lit("?")))
      val nTok = size(split(raw, " ")).cast("long")
      val alpha = (octet_length(raw) - (size(split(raw, " ")) - 1)).cast("long")
      val nTerm = (octet_length(raw) - octet_length(translate(raw, ".!?", ""))).cast("long")
      t(s, d, "documents")
        .select(col("doc_id"),
          substring(raw, -1, 1).isin(".", "!", "?").cast("long").as("f_endpunct"),
          (nTerm >= 3L).cast("long").as("f_sentences"),
          (alpha >= nTok * 3L && alpha <= nTok * 10L).cast("long").as("f_wordlen"),
          (!raw.contains("lorem ipsum") && !raw.contains("{")).cast("long").as("f_clean"))
        .withColumn("keep",
          (col("f_endpunct") * col("f_sentences") * col("f_wordlen") * col("f_clean")).cast("long"))
        .orderBy("doc_id")
    },
      oracle = """WITH r AS (SELECT doc_id, text
        |    || (CASE WHEN doc_id % 13 = 0 THEN ' lorem ipsum {boilerplate;}' ELSE '' END)
        |    || (CASE doc_id % 4 WHEN 0 THEN '.' WHEN 1 THEN '!'
        |        WHEN 2 THEN ' and so on' ELSE '?' END) AS raw
        |  FROM documents),
        |m AS (SELECT doc_id, raw,
        |    len(string_split(raw, ' ')) AS n_tok,
        |    strlen(raw) - (len(string_split(raw, ' ')) - 1) AS alpha,
        |    strlen(raw) - strlen(replace(replace(replace(raw,'.',''),'!',''),'?','')) AS n_term
        |  FROM r)
        |SELECT doc_id,
        |  CAST(CASE WHEN substr(raw, -1, 1) IN ('.','!','?') THEN 1 ELSE 0 END AS BIGINT) AS f_endpunct,
        |  CAST(CASE WHEN n_term >= 3 THEN 1 ELSE 0 END AS BIGINT) AS f_sentences,
        |  CAST(CASE WHEN alpha >= n_tok * 3 AND alpha <= n_tok * 10 THEN 1 ELSE 0 END AS BIGINT) AS f_wordlen,
        |  CAST(CASE WHEN raw NOT LIKE '%lorem ipsum%' AND raw NOT LIKE '%{%' THEN 1 ELSE 0 END AS BIGINT) AS f_clean,
        |  CAST(CASE WHEN substr(raw, -1, 1) IN ('.','!','?') THEN 1 ELSE 0 END
        |    * CASE WHEN n_term >= 3 THEN 1 ELSE 0 END
        |    * CASE WHEN alpha >= n_tok * 3 AND alpha <= n_tok * 10 THEN 1 ELSE 0 END
        |    * CASE WHEN raw NOT LIKE '%lorem ipsum%' AND raw NOT LIKE '%{%' THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m ORDER BY doc_id""".stripMargin),
    Gate("text_classifier_score", (s, d) => {
      // model-based quality filtering (the fastText-style linear classifier
      // LLM curation runs for quality/toxicity): feature = hashed bigram,
      // score = sum of the model's weights over the doc's features,
      // keep = score above threshold. No ML libs ship in this container, so
      // the weight table is the deterministic stub w(h) = h % 1001 - 500
      // (declared, same contract as the multimodal codec stub) — the Spark
      // plumbing is the production shape: per-row feature explode, INTEGER
      // weight sum (no FP, so any engine and any row/partition order agree
      // bit-for-bit), threshold keep. Swapping in trained weights is a
      // broadcast join against a (feature_hash, weight) table; everything
      // else stays identical.
      val words = split(col("text"), " ")
      val wts = when(size(words) >= 2,
        transform(sequence(lit(1), size(words) - 1), i =>
          mdHash(concat_ws(" ", element_at(words, i), element_at(words, i + 1)))
            % 1001L - 500L))
        .otherwise(array().cast("array<long>"))
      t(s, d, "documents")
        .select(col("doc_id"), explode(wts).as("wt"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feats"), sum("wt").as("score"))
        .withColumn("keep", when(col("score") > 0, 1).otherwise(0))
        .orderBy("doc_id")
    },
      oracle = s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |f AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(words)-1),
         |        i -> (${sqlHash("words[i] || ' ' || words[i+1]")} % 1001) - 500)) AS wt
         |      FROM w)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |       CAST(sum(wt) AS BIGINT) AS score,
         |       CASE WHEN sum(wt) > 0 THEN 1 ELSE 0 END AS keep
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Gate("text_classifier_weighted", (s, d) => {
      // the PRODUCTION wiring of text_classifier_score: the model is a real
      // (feature_hash, weight) TABLE broadcast-joined onto the exploded
      // feature stream — swapping in trained fastText weights means
      // replacing this table, nothing else changes. The table here derives
      // deterministically from the corpus' own distinct feature hashes
      // (w(h) = h % 1001 - 500, the same stub arithmetic), so the oracle
      // recomputes end-to-end and the scores equal text_classifier_score
      // by construction. Plan shape (asserted in PlanQualitySpec): explode →
      // broadcast hash join (the model side is model-sized, never
      // corpus-sized) → partial/final hash aggregate.
      val words = split(col("text"), " ")
      val feats = when(size(words) >= 2,
        transform(sequence(lit(1), size(words) - 1), i =>
          mdHash(concat_ws(" ", element_at(words, i), element_at(words, i + 1)))))
        .otherwise(array().cast("array<long>"))
      val fdf = t(s, d, "documents").select(col("doc_id"), explode(feats).as("h"))
      val weightsTable = fdf.select(col("h")).distinct()
        .withColumn("wt", col("h") % 1001L - 500L)
      fdf.join(broadcast(weightsTable), Seq("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feats"), sum("wt").as("score"))
        .withColumn("keep", when(col("score") > 0, 1).otherwise(0))
        .orderBy("doc_id")
    },
      // same scores through the weight-TABLE join (the production model
      // wiring): distinct feature hashes → (h, wt) model table → join + sum
      oracle = s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |f AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(words)-1),
         |        i -> ${sqlHash("words[i] || ' ' || words[i+1]")})) AS h
         |      FROM w),
         |m AS (SELECT DISTINCT h, (h % 1001) - 500 AS wt FROM f)
         |SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |       CAST(sum(m.wt) AS BIGINT) AS score,
         |       CASE WHEN sum(m.wt) > 0 THEN 1 ELSE 0 END AS keep
         |FROM f JOIN m USING (h) GROUP BY f.doc_id ORDER BY doc_id""".stripMargin),
    Gate("text_redact_pii", (s, d) => {
      // PII scrubbing (the pre-training pass every public corpus gets):
      // the synthetic corpus has no PII, so deterministic PII-shaped spans
      // are spliced in from doc_id first, then the redaction expressions
      // strip emails / IPv4s / phone numbers. Patterns stay in the regex
      // subset Java (Spark) and RE2 (DuckDB) interpret identically — no
      // lookaround, no unicode classes. Pure per-row codegen'd exprs.
      val pii = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com via 10.0."),
        (col("doc_id") % 256).cast("string"), lit("."),
        (col("doc_id") % 100).cast("string"),
        lit(" tel +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val redacted =
        regexp_replace(
          regexp_replace(
            regexp_replace(pii,
              """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>"),
            """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""", "<IP>"),
          """\+1-555-\d{4}""", "<PHONE>")
      t(s, d, "documents").select(col("doc_id"), redacted.as("clean")).orderBy("doc_id")
    },
      oracle = """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.' || CAST(doc_id % 100 AS VARCHAR)
        |      || ' tel +1-555-' || printf('%04d', doc_id % 10000),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+1-555-\d{4}', '<PHONE>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("decontaminate", (s, d) => {
      // benchmark decontamination: flag training docs sharing any 3-gram
      // shingle with the heldout benchmark slice (doc_id % 97 == 0).
      // Shape: explode → broadcast join on narrow shingle keys → per-doc
      // count — a contains-join, never an all-pairs comparison; the
      // benchmark shingle set is the small side by construction.
      val docs = t(s, d, "documents")
      val sh = docs.select(col("doc_id"),
        explode(array_distinct(shingles(split(col("text"), " ")))).as("g"))
      val bench = broadcast(sh.filter(col("doc_id") % 97 === 0)
        .select(col("g").as("bg")).distinct())
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(bench, col("g") === col("bg"))
        .groupBy("doc_id").agg(countDistinct(col("g")).as("n_hits"))
        .orderBy("doc_id")
    },
      oracle = s"""$sqlShinglesCte,
         |g AS (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM s),
         |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
         |SELECT g.doc_id, count(DISTINCT g.g) AS n_hits
         |FROM g JOIN bench ON g.g = bench.g WHERE g.doc_id % 97 <> 0
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin),
    Gate("corpus_filter_chain", (s, d) => {
      // the end-to-end curation pass a pretraining corpus actually runs:
      // quality band → repetition filter → exact dedup (keep first) →
      // benchmark decontamination, one declarative chain. Scale shape: the
      // per-row filters fuse into the scan; the only shuffles are the dedup
      // aggregation (groupBy text with map-side combine — a window on the
      // raw text would do NO partial aggregation, so a boilerplate doc
      // duplicated across billions of rows would land in one task) and the
      // contamination anti-join whose build side is the small heldout
      // shingle set, broadcast.
      val docs = t(s, d, "documents")
      val sh = shingles(split(col("text"), " "))
      val q = docs
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .withColumn("n_sh", size(sh).cast("long"))
        .withColumn("n_dup", (size(sh) - size(array_distinct(sh))).cast("long"))
        .filter(col("n_tok") >= 30 && col("n_tok") <= 75)
        .filter(col("n_dup") * 10 < col("n_sh") * 3)
      // keep-first-by-doc_id as min(struct): doc_id is unique, so the struct
      // min IS the first row per text — same semantics as the old
      // row_number window, but partial/final HashAggregate absorbs dup skew
      val deduped = q
        .groupBy(col("text"))
        .agg(min(struct(col("doc_id"), col("n_tok"))).as("k"))
        .select(col("k.doc_id").as("doc_id"), col("k.n_tok").as("n_tok"))
      val g = docs.select(col("doc_id"), explode(array_distinct(sh)).as("g"))
      val bench = broadcast(g.filter(col("doc_id") % 97 === 0)
        .select(col("g").as("bg")).distinct())
      val contaminated = g.filter(col("doc_id") % 97 =!= 0)
        .join(bench, col("g") === col("bg")).select("doc_id").distinct()
      deduped.join(contaminated, Seq("doc_id"), "left_anti")
        .filter(col("doc_id") % 97 =!= 0)
        .select("doc_id", "n_tok").orderBy("doc_id")
    },
      oracle = s"""$sqlShinglesCte,
         |q AS (SELECT d.doc_id, d.text, len(string_split(d.text, ' ')) AS n_tok,
         |        len(s.sh) AS n_sh, len(s.sh) - len(list_distinct(s.sh)) AS n_dup
         |      FROM documents d JOIN s ON d.doc_id = s.doc_id),
         |f AS (SELECT * FROM q WHERE n_tok BETWEEN 30 AND 75 AND n_dup * 10 < n_sh * 3),
         |dd AS (SELECT doc_id, n_tok, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM f),
         |g AS (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM s),
         |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
         |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench ON g.g = bench.g WHERE g.doc_id % 97 <> 0)
         |SELECT dd.doc_id, CAST(dd.n_tok AS BIGINT) AS n_tok FROM dd
         |WHERE dd.rn = 1 AND dd.doc_id % 97 <> 0
         |  AND dd.doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY dd.doc_id""".stripMargin),

    // ---- deterministic sampling / split assignment, mixing, packing ----
    Gate("split_train_val", (s, d) => {
      // seed-stable train/val/test assignment: a salted cross-engine hash
      // of the doc id buckets each row into 0..99 — reproducible across
      // runs, engines, and cluster sizes (pure per-row expression: no RNG
      // state, no shuffle, survives repartitioning unchanged)
      val bucket = mdHash(concat(lit("split:"), col("doc_id").cast("string"))) % 100L
      t(s, d, "documents")
        .select(col("doc_id"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },
      oracle = s"""SELECT doc_id,
         |  CASE WHEN ${sqlHash("'split:'||CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${sqlHash("'split:'||CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("sample_stratified", (s, d) => {
      // per-language stratified downsampling (the data-mixing primitive:
      // thin dominant languages, keep the rest): keep iff salted hash mod
      // 100 < rate(lang); deterministic single-pass filter, no RNG
      val bucket = mdHash(concat(lit("sample:"), col("doc_id").cast("string"))) % 100L
      val rate = when(col("lang") === "en", 50L)
        .when(col("lang") === "fr", 80L).otherwise(100L)
      t(s, d, "documents").filter(bucket < rate)
        .select("doc_id", "lang").orderBy("doc_id")
    },
      oracle = s"""SELECT doc_id, lang FROM documents
         |WHERE ${sqlHash("'sample:'||CAST(doc_id AS VARCHAR)")} % 100 <
         |  (CASE WHEN lang='en' THEN 50 WHEN lang='fr' THEN 80 ELSE 100 END)
         |ORDER BY doc_id""".stripMargin),
    Gate("mix_epochs", (s, d) => {
      // data-mixing upsampling (the other half of sample_stratified's
      // downsampling): rare-language docs are repeated for extra epochs —
      // en×1, fr×2, rest×3 — each copy tagged with a deterministic
      // shuffle_key so writing ordered-by-key yields a seed-stable global
      // shuffle of the mixed corpus. Per-row explode, no shuffle; the
      // order-by at write time is a uniform range partition (hash keys
      // have no skew by construction).
      val epochs = when(col("lang") === "en", 1L)
        .when(col("lang") === "fr", 2L).otherwise(3L)
      t(s, d, "documents")
        .select(col("doc_id"), explode(sequence(lit(0L), epochs - 1)).as("epoch"))
        .withColumn("shuffle_key",
          mdHash(concat(lit("mix:"), col("doc_id").cast("string"),
            lit(":"), col("epoch").cast("string"))) % 1000000L)
        .orderBy("doc_id", "epoch")
    },
      oracle = s"""WITH e AS (SELECT doc_id,
         |  unnest(range(CASE WHEN lang='en' THEN 1 WHEN lang='fr' THEN 2 ELSE 3 END)) AS epoch
         |FROM documents)
         |SELECT doc_id, epoch,
         |  ${sqlHash("'mix:'||CAST(doc_id AS VARCHAR)||':'||CAST(epoch AS VARCHAR)")} % 1000000 AS shuffle_key
         |FROM e ORDER BY doc_id, epoch""".stripMargin),
    Gate("mix_temperature", (s, d) => {
      // temperature-based domain mixing (the multilingual-pretraining
      // recipe: sampling weight ∝ n^α flattens the domain distribution):
      // unlike mix_epochs' FIXED schedule, the per-language epoch count
      // derives FROM the data — epochs_l = floor(sqrt(c·n_max/n_l)) at
      // α=0.5, c=4 — so rare domains upsample toward the tempered
      // distribution automatically. Two-pass shape: a tiny count aggregate,
      // broadcast back onto the corpus, per-row explode. The epoch math is
      // one IEEE chain on two integers (multiply → divide → sqrt → floor;
      // sqrt is bit-exact by IEEE-754, unlike pow) — identical on any
      // engine and any row order, so no FP-sum nondeterminism can flip a
      // count.
      val docs = t(s, d, "documents")
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val nMax = counts.agg(max("n").as("nm"))
      val epochs = counts.crossJoin(broadcast(nMax))
        .select(col("lang"),
          floor(sqrt(lit(4.0) * col("nm") / col("n"))).as("epochs"))
      docs.join(broadcast(epochs), "lang")
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(0L), col("epochs") - 1)).as("epoch"))
        .orderBy("doc_id", "epoch")
    },
      oracle = """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT max(n) AS nm FROM c),
        |e AS (SELECT lang, CAST(floor(sqrt(4.0 * nm / n)) AS BIGINT) AS epochs FROM c, m)
        |SELECT d.doc_id, d.lang, unnest(range(e.epochs)) AS epoch
        |FROM documents d JOIN e USING (lang)
        |ORDER BY doc_id, epoch""".stripMargin),
    Gate("pack_sequences", (s, d) => {
      // context-window packing (concat-then-chunk): docs are sharded by a
      // salted hash, concatenated in deterministic order within each shard,
      // and chunked into 256-token training sequences — pack_id is the
      // sequence the doc STARTS in (docs may straddle chunk boundaries,
      // as in standard LLM pretraining packing). Scale shape: the window
      // runs per shard partition — one hash shuffle, parallel across
      // shards, no global sort, no driver state.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("doc_id")
      t(s, d, "documents")
        .select(col("doc_id"),
          mdHash(concat(lit("pack:"), col("doc_id").cast("string"))) % 8L as "shard",
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("doc_id"), col("shard"),
          floor((col("cum") - col("n_tok")) / 256L).cast("long").as("pack_id"))
        .orderBy("doc_id")
    },
      oracle = s"""WITH n AS (SELECT doc_id,
         |    ${sqlHash("'pack:'||CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         |    len(string_split(text, ' ')) AS n_tok
         |  FROM documents),
         |c AS (SELECT doc_id, shard, n_tok,
         |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS cum FROM n)
         |SELECT doc_id, shard, CAST((cum - n_tok) // 256 AS BIGINT) AS pack_id
         |FROM c ORDER BY doc_id""".stripMargin),

    // ---- multimodal plumbing (binary payload + stubbed decode) ----
    Gate("multimodal_meta", (s, d) => {
      // opaque binary column + deterministic fake feature extraction; the
      // Spark-side plumbing (schema, batching, partitioning) is real, the
      // codec is a stub — image/audio libs are not in this container
      import s.implicits._
      t(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, payload) =>
          val nBytes = payload.length.toLong
          (id, nBytes, 320 + nBytes % 320, 240 + nBytes % 240, 1 + nBytes % 7)
        })
        .toDF("doc_id", "n_bytes", "width", "height", "n_frames")
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  320 + strlen(text) % 320 AS width, 240 + strlen(text) % 240 AS height,
        |  1 + strlen(text) % 7 AS n_frames
        |FROM documents ORDER BY 1""".stripMargin),
    Gate("multimodal_frames", (s, d) => {
      // frame-sampling plumbing for video-like payloads: the per-partition
      // iterator decodes each payload once and emits every sampled frame
      // (the batch shape a real codec UDF would have); the codec itself is a
      // deterministic stub (no media libs in this container). Frames are
      // sampled at stride 2; per-frame feature is a stub fingerprint.
      import s.implicits._
      t(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, payload) =>
          val nBytes = payload.length.toLong
          val nFrames = 1 + nBytes % 7
          (0L until nFrames by 2).iterator.map { frameIdx =>
            (id, frameIdx, (nBytes * 31 + frameIdx * 7) % 997)
          }
        })
        .toDF("doc_id", "frame_idx", "feat")
        .orderBy("doc_id", "frame_idx")
    },
      oracle = """SELECT doc_id, frame_idx, (L*31 + frame_idx*7) % 997 AS feat FROM (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS L,
        |    unnest(range(0, strlen(text)%7 + 1, 2)) AS frame_idx
        |  FROM documents)
        |ORDER BY doc_id, frame_idx""".stripMargin),
  )
}
