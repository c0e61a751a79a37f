package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Dedup.shingles
import graft.functions.ClpFunctions._
import graft.gates.Gate.{mdHash, sqlHash, sqlShinglesCte, t, withClp}

/** Curation, part one: exact, substring, MinHash/SimHash, embedding and
  * semantic dedup, and the similarity search (brute force, SQ8, LSH, IVF)
  * they build on. Demo widths throughout (4 MinHash fns, 8-bit SimHash,
  * 4 LSH planes) because each oracle mirrors every hash constant; the
  * production widths are [[graft.Dedup]]'s. */
object DedupGates {

  private val MinhashFns: Seq[(Int, Int)] = Seq((7, 3), (11, 5), (13, 17), (19, 23))
  // ~2^40-scale primes: the band key IS the signature value (r=1 demo
  // bands), so the key domain must outgrow any corpus this family will
  // band — at a 10^6 domain the candidate-pair count grows as n^2/10^6
  // (the 10x scale probe measured the pair gate quadratic: 50k docs x 4
  // bands = 5M accidental bucket collisions before any true near-dup).
  // int64-safe: a <= 19, so a*(h%P1)+b < 2^45; both engines do exact
  // BIGINT arithmetic. The production 128-fn family (Dedup.minhashFamily)
  // bands r=2 rows, squaring its effective key domain instead.
  private val MinhashP1 = 999999999989L
  private val MinhashMod = 999999999961L

  /** The doc's distinct shingles as 60-bit mdHash values — md5 computed
    * ONCE per distinct shingle. Everything MinHash-shaped derives from
    * these 8-byte values: the signature fold is pure arithmetic, and the
    * pair-verify kernel intersects hashed arrays instead of shipping raw
    * 3-word shingle strings through a shuffle (cross-doc hash collisions
    * at 2^60 are ~1e-14; the DuckDB oracle computes the identical hashed
    * kernel). MinHash over a multiset equals MinHash over its distinct
    * set, so signatures are unchanged by the dedup. The 10× scale probe
    * motivated this shape: the previous per-function interpreted-HOF md5
    * made the pair gate the one superlinear entry (23× wall, 916 MB
    * spill from string arrays riding the verify shuffle). */
  private def hashedShingles(sh: Column): Column =
    transform(array_distinct(sh), s => mdHash(s))

  /** All demo-family signatures in ONE fold over the hashed shingles
    * (array accumulator — a per-function fold would re-evaluate the
    * interpreted HOF, and with it the md5 pass, once per function).
    * Element j is mh_j; an empty shingle set yields all-null elements,
    * matching the oracle's list_aggregate(…,'min') over an empty list
    * (a MaxValue sentinel would co-sign every short doc). */
  private def minhashFold(hd: Column): Column =
    aggregate(hd,
      array(MinhashFns.map(_ => lit(Long.MaxValue)): _*),
      (acc, h) => array(MinhashFns.zipWithIndex.map { case ((a, b), j) =>
        least(element_at(acc, j + 1),
          (lit(a.toLong) * (h % MinhashP1) + lit(b.toLong)) % MinhashMod)
      }: _*))

  private val minhashNulls: Column =
    array(MinhashFns.map(_ => lit(null).cast("bigint")): _*)

  private def minhashSigsFromHashed(hd: Column): Column =
    when(size(hd) > 0, minhashFold(hd)).otherwise(minhashNulls)

  private[gates] def minhashSigs(sh: Column): Column =
    // guard on the raw shingle count: size(hashedShingles(sh)) would pay
    // the md5 pass a second time just to decide emptiness
    when(size(sh) > 0, minhashFold(hashedShingles(sh))).otherwise(minhashNulls)

  /** DuckDB twin of [[minhashSigs]]: columns mh0..mh3 over the shingle
    * list `sh` of [[Gate.sqlShinglesCte]]. */
  private[gates] val sqlMinhashCols: String = MinhashFns.zipWithIndex.map { case ((a, b), j) =>
    s"CAST(list_aggregate(list_transform(sh, t -> ($a * (${sqlHash("t")} % $MinhashP1) + $b) % $MinhashMod), 'min') AS BIGINT) AS mh$j"
  }.mkString(",\n  ")

  private val sqlSimhashExpr: String = (0 until 8).map { j =>
    s"(CASE WHEN list_aggregate(list_transform(words, t -> ((${sqlHash("t")} >> $j) & 1) * 2 - 1), 'sum') >= 0 THEN ${1L << j} ELSE 0 END)"
  }.mkString(" + ")

  /** Verified near-dup pairs: exact 3-gram Jaccard ≥ 0.2 over all doc pairs
    * — the shared kernel behind `dedup_ngram_jaccard` (the pair gate) and
    * `dedup_clusters` (components over the pair graph). */
  private def ngramJaccardPairs(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), array_distinct(shingles(split(col("text"), " "))).as("sh"))
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("j", round(
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))).cast("double"), 4))
      .filter(col("j") >= 0.2)
  }

  /** Shared k=8 window-hash stream for the substring-dedup pair: (doc_id,
    * pos, h) grams plus the cross-doc duplicated hash set — the span gate
    * (dedup_substring) and the cut gate (dedup_substring_cut) must stay on
    * ONE gram scheme or their span/cut results silently disagree. */
  private def substringGrams(docs: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val words = split(col("text"), " ")
    val grams = docs
      .select(col("doc_id"),
        posexplode(when(size(words) >= k,
          transform(sequence(lit(1), size(words) - (k - 1)),
            i => mdHash(concat_ws(" ", slice(words, i, lit(k))))))
          .otherwise(array().cast("array<long>"))).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    val dup = grams.groupBy("h")
      .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2).select("h")
    (grams, dup)
  }

  /** DuckDB twin of [[substringGrams]] (CTEs `w`, `g`, `dup`). */
  private val sqlSubstringGramsCte: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |g AS (SELECT doc_id,
       |        unnest(generate_series(1, len(words)-7)) AS pos,
       |        unnest(list_transform(generate_series(1, len(words)-7),
       |          i -> ${sqlHash("array_to_string(words[i:i+7], ' ')")})) AS h
       |      FROM w),
       |dup AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2)""".stripMargin

  /** The IVF train→index→probe→score pipeline shared by the `knn_ivf`
    * (nProbe=2, pruned) and `knn_ivf_all` (nProbe=nlist ≡ brute force)
    * entries — only the probed cell set differs. Both gates run `iters = 0`:
    * the centroids are the deterministic SEEDS (normalized embeddings of the
    * nlist lowest ids), so the whole index — assignment argmax, probe set,
    * pruned scan, exact re-rank — is recomputable by the DuckDB oracle
    * (Lloyd rounds are not SQL-expressible; the TRAINED path is covered by
    * KnnIvfSpec at iters = 3, which also asserts assignment ≡ local mirror
    * and recall monotonicity). */
  private def ivfTopK(s: SparkSession, d: String, nProbe: Int): DataFrame = {
    val e = t(s, d, "embeddings")
    val centroids = KnnIvf.trainCentroids(e, "vec_id", "embedding", nlist = 8, iters = 0)
    val qVec = e.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val cells = KnnIvf.probeCells(qVec, centroids, nProbe)
    val idx = KnnIvf.index(e.filter(col("vec_id") =!= 0), "embedding", centroids)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    idx.filter(col("cell").isin(cells.map(Int.box).toIndexedSeq: _*))
      .crossJoin(broadcast(q))
      .withColumn("score", round(
        vec_dot(col("embedding"), col("q_emb")) /
          (sqrt(vec_dot(col("embedding"), col("embedding"))) *
           sqrt(vec_dot(col("q_emb"), col("q_emb")))), 4))
      .select("vec_id", "score")
      .orderBy(desc("score"), asc("vec_id")).limit(5)
  }

  /** DuckDB form of [[KnnLsh.bucketCol]]: the deterministic plane set
    * inlined as DOUBLE[] literals. Sign bits match Spark exactly because
    * both sides compute the dot in double over the same element order
    * (DuckDB's FLOAT[] overload computes in float — the casts matter). */
  private def sqlBucketExpr(embCol: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(CAST($embCol AS DOUBLE[]), CAST($arr AS DOUBLE[])) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n    + ")

  private val sqlLshBucket: String =
    sqlBucketExpr("embedding", KnnLsh.hyperplanes(nPlanes = 4, dim = 64, seed = 42L))

  /** DuckDB cosine written as the exact IEEE sequence the Spark queries use:
    * dot / (sqrt(dot(a,a)) * sqrt(dot(b,b))), all in double. */
  private def sqlCos(a: String, b: String): String =
    s"""list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
       |    / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
       |       * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))""".stripMargin

  val gates: Seq[Gate] = Seq(
    // ---- exact, normalized, paragraph and substring dedup ----
    Gate("dedup_exact", (s, d) => {
      // exact dedup via hash-groupBy: keeper id + multiplicity per text
      t(s, d, "documents").groupBy("text")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies").orderBy("keep_id")
    },
      oracle = """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY 1""".stripMargin),
    Gate("dedup_normalized", (s, d) => {
      // near-exact dedup after canonicalization (the RefinedWeb recipe:
      // lowercase, strip punctuation, collapse whitespace — THEN the exact
      // hash groupBy), catching case/punctuation/whitespace variants plain
      // exact dedup misses. The corpus has no such variants, so each odd
      // doc_id is derived as a mangled copy of its even neighbor (upper +
      // pad + bang suffix) — normalized dedup must collapse every pair.
      // Same scale shape as dedup_exact: one shuffle keyed on the hash of
      // the canonical form, never on the raw text.
      val docs = t(s, d, "documents").filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text").as("body"))
      val variants = docs.select((col("doc_id") + 1).as("doc_id"),
        concat(lit("  "), upper(col("body")), lit("  !!")).as("body"))
      val norm = trim(regexp_replace(lower(col("body")), "[^a-z0-9]+", " "))
      docs.unionAll(variants)
        .withColumn("h", md5(norm))
        .groupBy("h")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_variants"))
        .select("keep_id", "n_variants").orderBy("keep_id")
    },
      oracle = """WITH c AS (
        |  SELECT doc_id, text AS body FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 1 AS doc_id, '  ' || upper(text) || '  !!' AS body
        |  FROM documents WHERE doc_id % 2 = 0)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_variants
        |FROM c GROUP BY md5(trim(regexp_replace(lower(body), '[^a-z0-9]+', ' ', 'g')))
        |ORDER BY keep_id""".stripMargin),
    Gate("dedup_paragraph", (s, d) => {
      // CCNet-style paragraph-level dedup: docs are split into 8-word
      // chunks; each distinct chunk is kept only at its first occurrence
      // (min doc_id, then min position) corpus-wide; docs are reassembled
      // from their surviving chunks. Scale shape: one groupBy(chunk)
      // aggregation whose map-side combine absorbs hot-chunk skew (a
      // row_number window on the chunk would send every copy of a
      // boilerplate chunk to ONE task) + one keyed re-aggregation per
      // doc — both distributed, no all-pairs, no driver state.
      val words = split(col("text"), " ")
      val chunks = transform(
        sequence(lit(0L), ceil(size(words) / lit(8.0)).cast("long") - 1),
        i => concat_ws(" ", slice(words, (i * 8 + 1).cast("int"), lit(8))))
      t(s, d, "documents")
        .select(col("doc_id"), posexplode(chunks).as(Seq("pos", "chunk")))
        // first occurrence = min (doc_id, pos) struct; pos is unique within
        // a doc, so this is exactly the old window's rn=1 row per chunk
        .groupBy(col("chunk"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
        .select(col("k.doc_id").as("doc_id"), col("k.pos").as("pos"), col("chunk"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", transform(sort_array(collect_list(struct(col("pos"), col("chunk")))),
            x => x.getField("chunk"))).as("clean"))
        .orderBy("doc_id")
    },
      oracle = """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |c AS (SELECT doc_id, unnest(range(CAST(ceil(len(words)/8.0) AS BIGINT))) AS pos, words FROM w),
        |ch AS (SELECT doc_id, pos,
        |    array_to_string(words[CAST(pos*8+1 AS INT):CAST(pos*8+8 AS INT)], ' ') AS chunk FROM c),
        |k AS (SELECT doc_id, pos, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn FROM ch)
        |SELECT doc_id, count(*) AS n_kept, string_agg(chunk, ' ' ORDER BY pos) AS clean
        |FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Gate("dedup_substring", (s, d) => {
      // Substring-level dedup (Lee et al. 2022, arXiv:2107.06499): any
      // k-token window shared by >=2 DISTINCT documents marks its tokens as
      // duplicated, and overlapping/adjacent duplicated windows merge into
      // maximal per-doc token spans — the ranges a trainer cuts before
      // training. The paper's suffix array is a single-machine structure;
      // the distributed equivalent is this window-hash shuffle: one explode
      // into (doc_id, pos, h) where h is an 8-byte gram hash (fixed-width
      // shuffle key — the gram TEXT never rides a shuffle), one
      // count-distinct aggregate, a semi-join back, and a window-function
      // island merge. Every stage is a plain keyed shuffle; no driver
      // state, no all-pairs. Hash collisions are a non-issue for the gate:
      // both engines compute the SAME md5-derived key, so any collision is
      // shared. k=8; span bounds are 1-based inclusive token indices.
      val k = 8
      val (grams, dup) = substringGrams(t(s, d, "documents"), k)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      grams.join(dup, Seq("h"), "left_semi")
        .withColumn("brk",
          when(col("pos") - lag("pos", 1).over(w) <= k, lit(0)).otherwise(lit(1)))
        .withColumn("island", sum("brk").over(w))
        .groupBy("doc_id", "island")
        .agg(min(col("pos")).cast("long").as("span_start"),
          (max(col("pos")) + (k - 1)).cast("long").as("span_end"),
          count(lit(1)).as("n_windows"))
        .select("doc_id", "span_start", "span_end", "n_windows")
        .orderBy("doc_id", "span_start")
    },
      oracle = s"""$sqlSubstringGramsCte,
         |m AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
         |i AS (SELECT doc_id, pos,
         |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
         |             THEN 0 ELSE 1 END AS brk FROM m),
         |s AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |       CAST(max(pos) + 7 AS BIGINT) AS span_end, count(*) AS n_windows
         |FROM s GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin),
    Gate("dedup_substring_cut", (s, d) => {
      // the CUT step completing dedup_substring (Lee et al. remove the
      // duplicated ranges before training): every token covered by a
      // duplicated window is dropped and the survivors reassemble in
      // order. Same window-hash shuffle as the span gate, then a
      // token-level anti-membership: positions [pos, pos+k-1] of each
      // duplicated window mark tokens, tokens explode once, an anti-join
      // on (doc_id, token_pos) keeps the clean ones, and one groupBy
      // reassembles — all keyed shuffles, integer-exact membership.
      val k = 8
      val words = split(col("text"), " ")
      val docs = t(s, d, "documents")
      val (grams, dup) = substringGrams(docs, k)
      val cut = grams.join(dup, Seq("h"), "left_semi")
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (k - 1))).as("tpos"))
        .distinct()
      docs.select(col("doc_id"), posexplode(words).as(Seq("tp0", "tok")))
        .select(col("doc_id"), (col("tp0") + 1).as("tpos"), col("tok"))
        .join(cut, Seq("doc_id", "tpos"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          concat_ws(" ", transform(
            sort_array(collect_list(struct(col("tpos"), col("tok")))),
            x => x.getField("tok"))).as("clean"))
        .orderBy("doc_id")
    },
      oracle = s"""$sqlSubstringGramsCte,
         |cut AS (SELECT DISTINCT doc_id, tpos FROM (
         |  SELECT g.doc_id, unnest(generate_series(g.pos, g.pos+7)) AS tpos
         |  FROM g SEMI JOIN dup USING (h))),
         |toks AS (SELECT doc_id, unnest(generate_series(1, len(words))) AS tpos,
         |                unnest(words) AS tok FROM w)
         |SELECT t.doc_id, count(*) AS n_tokens,
         |       string_agg(t.tok, ' ' ORDER BY t.tpos) AS clean
         |FROM toks t ANTI JOIN cut c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),

    // ---- near-dup dedup family ----
    Gate("dedup_minhash_sig", (s, d) => {
      // MinHash over 3-gram shingles (md5-based hash family —
      // DuckDB-mirrorable): one hashed pass + one fold for all functions,
      // unpacked into columns in a SECOND projection — CollapseProject
      // keeps the expensive fold un-inlined, so it runs once per row
      t(s, d, "documents")
        .select(col("doc_id"),
          minhashSigs(shingles(split(col("text"), " "))).as("sigs"))
        .select(col("doc_id") +: MinhashFns.indices.map(j =>
          element_at(col("sigs"), j + 1).as(s"mh$j")): _*)
        .orderBy("doc_id")
    },
      oracle = s"""$sqlShinglesCte
         |SELECT doc_id,
         |  $sqlMinhashCols
         |FROM s ORDER BY doc_id""".stripMargin),
    Gate("dedup_simhash", (s, d) => {
      // SimHash (8-bit demo width): per-bit majority of token-hash bits
      val w = split(col("text"), " ")
      val sim = (0 until 8).map { j =>
        val votes = aggregate(w, lit(0L),
          (acc, tok) => acc + (shiftright(mdHash(tok), j) % 2L) * 2L - 1L)
        when(votes >= 0, lit(1L) * (1L << j)).otherwise(0L)
      }.reduce(_ + _)
      t(s, d, "documents").select(col("doc_id"), sim.as("simhash")).orderBy("doc_id")
    },
      oracle = s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
         |SELECT doc_id, CAST($sqlSimhashExpr AS BIGINT) AS simhash
         |FROM w ORDER BY doc_id""".stripMargin),
    Gate("dedup_ngram_jaccard", (s, d) =>
      // exact n-gram Jaccard over all pairs above threshold (verification
      // kernel for the LSH candidates below)
      ngramJaccardPairs(s, d).select("a_id", "b_id", "j").orderBy("a_id", "b_id"),
      oracle = s"""$sqlShinglesCte,
         |sd AS (SELECT doc_id, list_distinct(sh) AS sh FROM s)
         |SELECT * FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4) AS j
         |  FROM sd a, sd b WHERE a.doc_id < b.doc_id)
         |WHERE j >= 0.2 ORDER BY a_id, b_id""".stripMargin),
    Gate("dedup_clusters", (s, d) =>
      // dedup clustering: connected components over the verified near-dup
      // pair graph — the step a real pipeline runs after pair generation to
      // pick ONE canonical doc (min doc_id) per duplicate cluster; min-label
      // propagation, one narrow join+agg per round (graft.Dedup)
      graft.Dedup.connectedComponents(ngramJaccardPairs(s, d), "a_id", "b_id")
        .orderBy("doc_id"),
      // connected components via a recursive reachability CTE: every vertex's
      // cluster_id is the min doc_id reachable in the near-dup pair graph —
      // the same fixpoint min-label propagation converges to.
      oracle = s"""${sqlShinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sd AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sd a, sd b WHERE a.doc_id < b.doc_id
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4) >= 0.2),
         |e AS (SELECT a_id AS es, b_id AS ed FROM p
         |  UNION SELECT b_id, a_id FROM p),
         |r(id, lbl) AS (
         |  SELECT es, es FROM e
         |  UNION
         |  SELECT e.ed, r.lbl FROM r JOIN e ON e.es = r.id)
         |SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
         |FROM r GROUP BY id ORDER BY doc_id""".stripMargin),
    Gate("dedup_keep_canonical", (s, d) => {
      // the dedup pipeline's actual OUTPUT: the corpus with near-duplicates
      // removed — every doc except non-canonical cluster members (anti-join
      // against components; the canonical member is the cluster minimum, so
      // exactly one survivor per duplicate cluster, all singletons kept)
      val drop = graft.Dedup
        .connectedComponents(ngramJaccardPairs(s, d), "a_id", "b_id")
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      t(s, d, "documents").join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars")).orderBy("doc_id")
    },
      // dedup output: anti-join documents against non-canonical component
      // members (same recursive reachability CTE as dedup_clusters).
      oracle = s"""${sqlShinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sd AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sd a, sd b WHERE a.doc_id < b.doc_id
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4) >= 0.2),
         |e AS (SELECT a_id AS es, b_id AS ed FROM p
         |  UNION SELECT b_id, a_id FROM p),
         |r(id, lbl) AS (
         |  SELECT es, es FROM e
         |  UNION
         |  SELECT e.ed, r.lbl FROM r JOIN e ON e.es = r.id),
         |drop AS (SELECT id FROM r GROUP BY id HAVING id <> min(lbl))
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM drop) ORDER BY doc_id""".stripMargin),
    Gate("dedup_minhash_pairs", (s, d) => {
      // full MinHash+LSH dedup: band → bucket join → exact-jaccard verify.
      // Bands of 1 row over 4 sigs, verify j >= 0.2. Oracle: with r=1 the
      // band key IS the signature value, so DuckDB re-derives the candidate
      // set as an OR of per-band signature equalities. The verify kernel
      // intersects the docs' DISTINCT 60-bit shingle-hash sets (see
      // hashedShingles) — Jaccard over them equals Jaccard over the raw
      // shingle sets up to a ~1e-14 collision, md5 runs once per shingle,
      // and the shuffle carries 8-byte elements instead of 3-word strings
      // (the 10× scale probe measured the string-array variant at 23×
      // wall / 916 MB spill; this shape is linear in the pair count).
      val hdocs = t(s, d, "documents").select(col("doc_id"),
        hashedShingles(shingles(split(col("text"), " "))).as("hd"))
      val docs = hdocs.select(col("doc_id"), col("hd"),
        minhashSigsFromHashed(col("hd")).as("sigs"))
      // bucket join + pair dedup on NARROW (a_id, b_id) keys only — the
      // hash arrays never enter the band shuffle or the distinct; they are
      // re-joined afterwards for the verify kernel
      val banded = docs
        .select(col("doc_id"), posexplode(col("sigs")).as(Seq("band", "key")))
        .filter(col("key").isNotNull)
      val pairs = banded.select(col("band"), col("key"), col("doc_id").as("a_id"))
        .join(banded.select(col("band"), col("key"), col("doc_id").as("b_id")), Seq("band", "key"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
      pairs
        .join(hdocs.select(col("doc_id").as("a_id"), col("hd").as("a_hd")), Seq("a_id"))
        .join(hdocs.select(col("doc_id").as("b_id"), col("hd").as("b_hd")), Seq("b_id"))
        .withColumn("j", round(
          size(array_intersect(col("a_hd"), col("b_hd"))).cast("double") /
            size(array_union(col("a_hd"), col("b_hd"))).cast("double"), 4))
        .filter(col("j") >= 0.2)
        .select("a_id", "b_id", "j").orderBy("a_id", "b_id")
    },
      // 1-row bands over the mirrorable minhash family: the band key IS the
      // signature value, so candidate generation is an OR of per-band
      // equalities — the whole LSH pipeline under the oracle
      oracle = s"""$sqlShinglesCte,
         |sd AS (SELECT doc_id,
         |         list_distinct(list_transform(sh, t -> ${sqlHash("t")})) AS hd,
         |         $sqlMinhashCols FROM s)
         |SELECT * FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    round(CAST(len(list_intersect(a.hd, b.hd)) AS DOUBLE) /
         |          CAST(len(list_distinct(a.hd || b.hd)) AS DOUBLE), 4) AS j
         |  FROM sd a, sd b WHERE a.doc_id < b.doc_id
         |    AND (${MinhashFns.indices.map(j => s"a.mh$j = b.mh$j").mkString(" OR ")}))
         |WHERE j >= 0.2 ORDER BY a_id, b_id""".stripMargin),
    Gate("dedup_embedding", (s, d) => {
      // embedding-cosine near-dup: all pairs above threshold, exact.
      // Test-scale plan is a broadcast self-join (O(n^2) compare, no shuffle);
      // the 100 TB path buckets by SimHash-style hyperplane signs first
      // (see knn_lsh) and runs this same exact-cosine kernel per bucket.
      // normalize each vector ONCE before the pair join — per-pair work is a
      // single codegen'd vec_dot instead of three interpreted HOF folds (the
      // only shape that survives an O(n^2)/per-bucket compare at scale)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("emb"))
        .withColumn("norm", sqrt(vec_dot(col("emb"), col("emb"))))
        .select(col("vec_id"), transform(col("emb"), x => x / col("norm")).as("emb"))
      val a = e.select(col("vec_id").as("a_id"), col("emb").as("a_emb"))
      val b = e.select(col("vec_id").as("b_id"), col("emb").as("b_emb"))
      a.crossJoin(broadcast(b)).filter(col("a_id") < col("b_id"))
        .withColumn("cos", round(vec_dot(col("a_emb"), col("b_emb")), 4))
        .filter(col("cos") >= 0.4)
        .select("a_id", "b_id", "cos").orderBy("a_id", "b_id")
    },
      oracle = """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin),
    Gate("dedup_semantic_all", (s, d) =>
      // SemDeDup's exact kernel (nlist=1: one cell = every pair compared):
      // cosine pairs >= 0.4 → connected components → keep the component
      // minimum. Oracle recomputes it with list_cosine_similarity + a
      // recursive reachability CTE (same pattern as dedup_keep_canonical).
      graft.Dedup.semanticKeep(t(s, d, "embeddings"), "vec_id", "embedding",
        nlist = 1, iters = 1, cosMin = 0.4).orderBy("id"),
      oracle = """WITH RECURSIVE p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.4),
        |e AS (SELECT a_id AS es, b_id AS ed FROM p
        |  UNION SELECT b_id, a_id FROM p),
        |r(id, lbl) AS (
        |  SELECT es, es FROM e
        |  UNION
        |  SELECT e.ed, r.lbl FROM r JOIN e ON e.es = r.id),
        |drop AS (SELECT id FROM r GROUP BY id HAVING id <> min(lbl))
        |SELECT vec_id AS id FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM drop) ORDER BY id""".stripMargin),
    Gate("dedup_semantic", (s, d) =>
      // the scaled shape: k-means cells, pair join keyed on cell —
      // candidates only within a cell, the exact kernel per candidate. The
      // gate runs the SEED-centroid index (iters = 0: centroids are the
      // normalized embeddings of the 4 lowest ids), which makes every step —
      // assignment argmax, cell-restricted pair join, cosine verify,
      // connected components, canonical keep — recomputable by the DuckDB
      // oracle; SemanticDedupSpec covers the TRAINED path (iters = 4) and
      // asserts kept ⊇ the exact kernel's kept set plus a drop-recall
      // floor. nlist=4 is the demo size for this corpus (its near-dups sit
      // at cos≈0.4, far below the ≥0.9 SemDeDup operating point where
      // duplicates co-locate in a cell almost surely — same demo-width
      // trade as the 4-plane LSH gates); production tunes nlist to corpus
      // size and raises cosMin, which only tightens co-location.
      graft.Dedup.semanticKeep(t(s, d, "embeddings"), "vec_id", "embedding",
        nlist = 4, iters = 0, cosMin = 0.4).orderBy("id"),
      // the pruned SemDeDup path fully recomputed: seed centroids (iters=0 →
      // normalized embeddings of the 4 lowest vec_ids, the same x/sqrt(Σx²)
      // chain as vec_normalize), cell = argmax dot (ties → smallest cid, the
      // argmax_dot rule), candidate pairs restricted to same-cell, exact
      // cosine kernel, recursive-CTE connected components, keep the minimum
      oracle = """WITH RECURSIVE e0 AS (
        |  SELECT vec_id, embedding, embedding::DOUBLE[] AS emb FROM embeddings),
        |nrm AS (SELECT vec_id, embedding, emb,
        |          sqrt(list_inner_product(emb, emb)) AS nn FROM e0),
        |n AS (SELECT vec_id, embedding, nn,
        |        CASE WHEN nn > 0 THEN list_transform(emb, x -> x / nn)
        |             ELSE emb END AS ne
        |      FROM nrm),
        |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, ne AS c
        |         FROM (SELECT vec_id, ne FROM n ORDER BY vec_id LIMIT 4)),
        |scored AS (SELECT n.vec_id, cent.cid, list_inner_product(n.ne, cent.c) AS dt
        |           FROM n, cent),
        |assign AS (SELECT vec_id, cid AS cell FROM (
        |             SELECT vec_id, cid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cid) AS rn
        |             FROM scored) WHERE rn = 1),
        |p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  JOIN assign aa ON aa.vec_id = a.vec_id
        |  JOIN assign ab ON ab.vec_id = b.vec_id AND aa.cell = ab.cell
        |  WHERE a.nn > 0 AND b.nn > 0
        |    AND round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.4),
        |e AS (SELECT a_id AS es, b_id AS ed FROM p
        |  UNION SELECT b_id, a_id FROM p),
        |r(id, lbl) AS (
        |  SELECT es, es FROM e
        |  UNION
        |  SELECT e.ed, r.lbl FROM r JOIN e ON e.es = r.id),
        |drop AS (SELECT id FROM r GROUP BY id HAVING id <> min(lbl))
        |SELECT vec_id AS id FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM drop) ORDER BY id""".stripMargin),
    // ---- the bucketed embedding DEDUP end-to-end (the 100 TB shape the
    // exact dedup_embedding kernel runs inside): LSH bucket → per-bucket
    // exact cosine with the norm computed ONCE per row (not per pair).
    // Oracle: the plane set is deterministic, so the SQL inlines it as
    // DOUBLE[] literals and recomputes bucket + cosine in DuckDB. ----
    Gate("dedup_embedding_lsh", (s, d) => {
      val planes = KnnLsh.hyperplanes(nPlanes = 4, dim = 64, seed = 42L)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").as("emb"))
        .withColumn("norm", sqrt(vec_dot(col("emb"), col("emb"))))
        .withColumn("bucket", KnnLsh.bucketCol(col("emb"), planes))
      val a = e.select(col("bucket"), col("vec_id").as("a_id"),
        col("emb").as("a_emb"), col("norm").as("a_norm"))
      val b = e.select(col("bucket"), col("vec_id").as("b_id"),
        col("emb").as("b_emb"), col("norm").as("b_norm"))
      a.join(b, Seq("bucket")).filter(col("a_id") < col("b_id")) // co-bucketed pairs only
        .withColumn("cos", round(
          vec_dot(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")), 4))
        .filter(col("cos") >= 0.4)
        .select("a_id", "b_id", "cos").orderBy("a_id", "b_id")
    },
      oracle = s"""WITH b AS (SELECT vec_id, embedding, $sqlLshBucket AS bucket FROM embeddings)
         |SELECT * FROM (
         |  SELECT a.vec_id AS a_id, b2.vec_id AS b_id,
         |    round(${sqlCos("a.embedding", "b2.embedding")}, 4) AS cos
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         |WHERE cos >= 0.4 ORDER BY a_id, b_id""".stripMargin),

    // ---- similarity search ----
    Gate("knn_bruteforce", (s, d) => {
      // brute-force cosine top-k for query vector 0 (exact baseline)
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("score", round(
          vec_dot(col("embedding"), col("q_emb")) /
            (sqrt(vec_dot(col("embedding"), col("embedding"))) *
             sqrt(vec_dot(col("q_emb"), col("q_emb")))), 4))
        .select("vec_id", "score")
        .orderBy(desc("score"), asc("vec_id")).limit(5)
    },
      oracle = """SELECT b.vec_id, round(list_cosine_similarity(b.embedding, q.embedding), 4) AS score
        |FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE b.vec_id <> 0
        |ORDER BY score DESC, b.vec_id LIMIT 5""".stripMargin),
    Gate("knn_sq8", (s, d) => {
      // scalar-quantized ANN (the FAISS SQ8 shape, the third index family
      // next to LSH and IVF): embeddings quantize ONCE to int8 — 4x
      // smaller than float32, the memory lever that keeps a 100 TB vector
      // store scannable — the coarse pass ranks candidates by an integer
      // dot (codegen'd vec_qdot: small-integer math, exact in any engine,
      // so candidate selection is bit-stable with no FP rounding in play),
      // and only the top-15 survivors pay the exact float cosine re-rank.
      // q[i] = floor(x*127 + 0.5) clamped — floor(x+0.5), not round(), so
      // the DuckDB oracle reproduces it exactly.
      withClp(s)
      val e = t(s, d, "embeddings")
        .withColumn("q8", vec_sq8(col("embedding"), lit(127.0)))
      val q = e.filter(col("vec_id") === 0)
        .select(col("q8").as("qq8"), col("embedding").as("q_emb"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("qdot", vec_qdot(col("q8"), col("qq8")))
        .orderBy(desc("qdot"), asc("vec_id")).limit(15)
        .withColumn("score", round(
          vec_dot(col("embedding"), col("q_emb")) /
            (sqrt(vec_dot(col("embedding"), col("embedding"))) *
             sqrt(vec_dot(col("q_emb"), col("q_emb")))), 4))
        .select("vec_id", "score")
        .orderBy(desc("score"), asc("vec_id")).limit(5)
    },
      // int8 quantization recomputed in SQL: floor(x*127 + 0.5) clamped, the
      // coarse rank by integer dot is exact in double arithmetic (all values
      // small integers), so the candidate set matches Spark's bit-for-bit
      oracle = """WITH e AS (SELECT vec_id, embedding,
        |    list_transform(embedding::DOUBLE[],
        |      x -> greatest(-127, least(127, floor(x * 127 + 0.5)))) AS q8
        |  FROM embeddings),
        |q AS (SELECT q8 AS qq8, embedding AS q_emb FROM e WHERE vec_id = 0),
        |coarse AS (SELECT e.vec_id, e.embedding, q.q_emb,
        |    list_inner_product(e.q8, q.qq8) AS qdot
        |  FROM e, q WHERE e.vec_id <> 0
        |  ORDER BY qdot DESC, e.vec_id ASC LIMIT 15)
        |SELECT vec_id, round(list_cosine_similarity(embedding, q_emb), 4) AS score
        |FROM coarse ORDER BY score DESC, vec_id ASC LIMIT 5""".stripMargin),
    // ---- similarity: LSH-bucketed ANN (scale path; the oracle inlines the
    // plane set, and bucket recall vs brute force is asserted in the sbt
    // suite). Signature AND scoring are codegen'd vec_dot expressions —
    // no per-row Scala UDF, no interpreted HOF fold. ----
    Gate("knn_lsh", (s, d) => {
      val planes = KnnLsh.hyperplanes(nPlanes = 4, dim = 64, seed = 42L)
      val e = t(s, d, "embeddings")
        .withColumn("bucket", KnnLsh.bucketCol(col("embedding"), planes))
      val q = e.filter(col("vec_id") === 0)
        .select(col("bucket").as("q_bucket"), col("embedding").as("q_emb"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .filter(col("bucket") === col("q_bucket")) // bucket pruning
        .withColumn("score", round(
          vec_dot(col("embedding"), col("q_emb")) /
            (sqrt(vec_dot(col("embedding"), col("embedding"))) *
             sqrt(vec_dot(col("q_emb"), col("q_emb")))), 4))
        .select("vec_id", "score")
        .orderBy(desc("score"), asc("vec_id")).limit(3)
    },
      // bucket recomputed in SQL from the inlined plane literals
      oracle = s"""WITH b AS (SELECT vec_id, embedding, $sqlLshBucket AS bucket FROM embeddings),
         |q AS (SELECT bucket AS q_bucket, embedding AS q_emb FROM b WHERE vec_id = 0)
         |SELECT b.vec_id, round(${sqlCos("b.embedding", "q.q_emb")}, 4) AS score
         |FROM b, q WHERE b.vec_id <> 0 AND b.bucket = q.q_bucket
         |ORDER BY score DESC, b.vec_id LIMIT 3""".stripMargin),
    // ---- multi-probe variant: also probes every bucket at Hamming
    // distance 1 from the query signature (bit_count(xor) ≤ 1, codegen'd
    // builtin) — the standard recall lever when a near neighbor falls on
    // the other side of one hyperplane ----
    Gate("knn_lsh_multiprobe", (s, d) => {
      val planes = KnnLsh.hyperplanes(nPlanes = 4, dim = 64, seed = 42L)
      val e = t(s, d, "embeddings")
        .withColumn("bucket", KnnLsh.bucketCol(col("embedding"), planes))
      val q = e.filter(col("vec_id") === 0)
        .select(col("bucket").as("q_bucket"), col("embedding").as("q_emb"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .filter(bit_count(col("bucket").bitwiseXOR(col("q_bucket"))) <= 1)
        .withColumn("score", round(
          vec_dot(col("embedding"), col("q_emb")) /
            (sqrt(vec_dot(col("embedding"), col("embedding"))) *
             sqrt(vec_dot(col("q_emb"), col("q_emb")))), 4))
        .select("vec_id", "score")
        .orderBy(desc("score"), asc("vec_id")).limit(3)
    },
      oracle = s"""WITH b AS (SELECT vec_id, embedding, $sqlLshBucket AS bucket FROM embeddings),
         |q AS (SELECT bucket AS q_bucket, embedding AS q_emb FROM b WHERE vec_id = 0)
         |SELECT b.vec_id, round(${sqlCos("b.embedding", "q.q_emb")}, 4) AS score
         |FROM b, q WHERE b.vec_id <> 0
         |  AND bit_count(xor(CAST(b.bucket AS BIGINT), CAST(q.q_bucket AS BIGINT))) <= 1
         |ORDER BY score DESC, b.vec_id LIMIT 3""".stripMargin),
    // ---- IVF ANN: spherical-k-means cells (deterministic init), probe the
    // nProbe nearest cells, exact cosine within them — the trainable scale
    // path next to LSH; persisted partitionBy("cell") the probe is a
    // partition-pruned scan (asserted in KnnIvfSpec). The gate runs the
    // seed-centroid index (iters = 0, see ivfTopK), so the ENTIRE pruned
    // search — assignment argmax, probe-2 set, cell-restricted scan, exact
    // re-rank — is recomputed by the DuckDB oracle; trained-centroid
    // behavior (iters = 3) is asserted in KnnIvfSpec. ----
    Gate("knn_ivf", (s, d) => ivfTopK(s, d, nProbe = 2),
      // pruned IVF fully recomputed: the gate's centroids are the iters=0
      // SEEDS (normalized embeddings of the 8 lowest vec_ids, the same
      // x/sqrt(Σx²) chain as vec_normalize), cell = argmax dot (ties →
      // smallest cid, the argmax_dot rule), probe set = top-2 centroids by
      // dot with the normalized query (ties → smaller cid), exact cosine
      // re-rank over the probed cells only
      oracle = """WITH e AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS emb FROM embeddings),
        |nrm AS (SELECT vec_id, embedding, emb,
        |          sqrt(list_inner_product(emb, emb)) AS nn FROM e),
        |n AS (SELECT vec_id, embedding,
        |        CASE WHEN nn > 0 THEN list_transform(emb, x -> x / nn)
        |             ELSE emb END AS ne
        |      FROM nrm),
        |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, ne AS c
        |         FROM (SELECT vec_id, ne FROM n ORDER BY vec_id LIMIT 8)),
        |q AS (SELECT ne AS qn, embedding AS q_emb FROM n WHERE vec_id = 0),
        |probe AS (SELECT cid FROM cent, q
        |          ORDER BY list_inner_product(c, qn) DESC, cid LIMIT 2),
        |scored AS (SELECT n.vec_id, cent.cid, list_inner_product(n.ne, cent.c) AS dt
        |           FROM n, cent WHERE n.vec_id <> 0),
        |assign AS (SELECT vec_id, cid AS cell FROM (
        |             SELECT vec_id, cid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cid) AS rn
        |             FROM scored) WHERE rn = 1)
        |SELECT b.vec_id, round(list_cosine_similarity(b.embedding, q.q_emb), 4) AS score
        |FROM embeddings b
        |JOIN assign ON b.vec_id = assign.vec_id
        |JOIN probe ON assign.cell = probe.cid
        |CROSS JOIN q
        |WHERE b.vec_id <> 0
        |ORDER BY score DESC, b.vec_id LIMIT 5""".stripMargin),
    // ---- IVF probe-all correctness gate: with nProbe = nlist the cell
    // filter keeps every row, so the result MUST equal brute-force top-k —
    // this puts the whole train→index→probe→score path under the DuckDB
    // oracle (the only thing nProbe=2 above adds is which cells are
    // skipped, and KnnIvfSpec covers that recall). ----
    Gate("knn_ivf_all", (s, d) => ivfTopK(s, d, nProbe = 8),
      // probe-all IVF ≡ brute force: same oracle
      oracle = """SELECT b.vec_id, round(list_cosine_similarity(b.embedding, q.embedding), 4) AS score
        |FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE b.vec_id <> 0
        |ORDER BY score DESC, b.vec_id LIMIT 5""".stripMargin),
  )
}
