package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.ops.ShingleSets

/** Corpus-preparation operators beyond dedup/decontamination: RAG-style
  * chunking, ExactSubstr-style repeated-span removal, vocabulary pruning
  * with OOV accounting, per-doc contamination fractions, importance
  * sampling, and per-label embedding centroids.
  *
  * Every op keeps the 100 TB shape: per-row feature extraction is a
  * narrow codegen'd projection; the only shuffles are single
  * hash-partitioned aggregations/joins on high-cardinality keys, and
  * every corpus-level side input (vocabulary, benchmark shingle set,
  * duplicated-shingle set) is a bounded broadcast.
  */
object CorpusOpsQueries {

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  // --- RAG-style chunking with overlap ---
  // Fixed-size token windows (C=64) with stride S=48 (16-token overlap),
  // the standard retrieval-corpus prep. Chunk count per doc is
  // k = 1 + max(0, ceil((n-C)/S)) computed with non-negative integer
  // arithmetic only — Spark's integer division truncates toward zero
  // while DuckDB's `//` floors, so negative intermediates are clamped
  // BEFORE dividing to keep both engines bit-identical.
  // Per-row explode, zero shuffles; chunk text is hashed so the output
  // stays narrow (the driver gate compares hashes, a real pipeline
  // would write the text column).
  private val ChunkSize = 64
  private val ChunkStride = 48

  /** Reusable chunking core over arbitrary docs:
    * (idCol, chunk_id, start_tok, end_tok, n_chunk_tokens, chunk_text).
    */
  def chunks(docs: DataFrame, idCol: String, textCol: String,
      size_ : Int = ChunkSize, stride: Int = ChunkStride): DataFrame = {
    val c = size_; val s = stride
    docs
      .select(col(idCol), toks(col(textCol)).as("_tk"))
      .withColumn("_n", size(col("_tk")))
      .withColumn("_k",
        expr(s"1 + greatest(0, greatest(0, _n - $c + ${s - 1}) div $s)").cast("int"))
      .select(col(idCol), col("_tk"), col("_n"),
        explode(sequence(lit(0), col("_k") - 1)).as("chunk_id"))
      .withColumn("start_tok", lit(1) + col("chunk_id") * s)
      .withColumn("end_tok", least(col("start_tok") + (c - 1), col("_n")))
      .select(
        col(idCol),
        col("chunk_id"),
        col("start_tok"),
        col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("n_chunk_tokens"),
        concat_ws(" ",
          slice(col("_tk"), col("start_tok"), col("end_tok") - col("start_tok") + 1))
          .as("chunk_text"))
  }

  def qChunkOverlap(spark: SparkSession, dir: String): DataFrame =
    chunks(documents(spark, dir), "doc_id", "text")
      .select(col("doc_id"), col("chunk_id"), col("start_tok"), col("end_tok"),
        col("n_chunk_tokens"), md5(col("chunk_text")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))

  val qChunkOverlapOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
      |), n AS (
      |  SELECT doc_id, tk, len(tk) AS n,
      |         1 + greatest(0, greatest(0, len(tk) - 64 + 47) // 48) AS k
      |  FROM t
      |), c AS (
      |  SELECT doc_id, tk, n, unnest(generate_series(0, k - 1)) AS chunk_id FROM n
      |), b AS (
      |  SELECT doc_id, tk, n, chunk_id, 1 + chunk_id * 48 AS start_tok,
      |         least(1 + chunk_id * 48 + 63, n) AS end_tok
      |  FROM c
      |)
      |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
      |       CAST(start_tok AS INT) AS start_tok, CAST(end_tok AS INT) AS end_tok,
      |       CAST(end_tok - start_tok + 1 AS INT) AS n_chunk_tokens,
      |       md5(array_to_string(tk[start_tok:end_tok], ' ')) AS chunk_hash
      |FROM b ORDER BY doc_id, chunk_id""".stripMargin

  // --- ExactSubstr-style repeated-span removal ---
  // Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
  // Better") removes substrings duplicated elsewhere in the corpus. The
  // suffix-array construction doesn't distribute naturally; the standard
  // cluster-scale approximation is n-gram granularity: a 5-token shingle
  // occurring more than once corpus-wide marks all 5 covered token
  // positions for removal, and the doc is rebuilt from the surviving
  // positions. Shape: shingle explode → one count shuffle → duplicated
  // set joins back (shingle-keyed equi-join) → position explode bounds
  // the fan-out at 5× the duplicated occurrences (NOT 5× the corpus) →
  // per-doc rebuild is one ordered aggregation. Every step is linear in
  // corpus size; nothing is quadratic in document count.
  private val SpanN = 5

  /** Reusable repeated-span-removal core over arbitrary docs:
    * (idCol, n_tokens, n_dup_tokens, clean_text). `clean_text` is the doc
    * rebuilt from token positions not covered by any corpus-duplicated
    * n-gram (empty string when everything was duplicated).
    *
    * This is the PER-DOC form — the right core for callers whose input
    * is already one row per distinct text (CorpusPipeline runs it after
    * dedupExact; an attempt to build the collapse in here cost the
    * composed chain 55 → 126+ s at 100× in lost broadcast/exchange
    * reuse for zero benefit, since its input has no duplicates). The
    * standalone q_exact_substr — whose input IS the raw corpus — goes
    * through [[repeatedSpanCleanCollapsed]] instead.
    */
  def repeatedSpanClean(docs: DataFrame, idCol: String, textCol: String,
      n: Int = SpanN): DataFrame = {
    val t = docs
      .select(col(idCol).as("doc_id"), toks(col(textCol)).as("tk"))
      .withColumn("nt", size(col("tk")))
    // (doc_id, pos, shingle) for docs long enough to have one
    val sh = t.filter(col("nt") >= n)
      .select(col("doc_id"), col("nt"),
        // every n-token window via the native ShinglesExpr (non-distinct
        // — ShingleExprSpec pins window-per-position semantics)
        posexplode(graft.functions.ShinglesExpr.shingles(col("tk"), n, distinct = false))
          .as(Seq("p0", "sh")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("sh"))
    val dup = sh.groupBy(col("sh")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("sh"))
    // token positions covered by a duplicated shingle
    val cov = sh.join(dup, "sh")
      .select(col("doc_id").as("cdoc"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tp"))
      .distinct()
    val dupCnt = cov.groupBy(col("cdoc").as("doc_id"))
      .agg(count(lit(1)).as("n_dup_tokens"))
    // rebuild: surviving tokens in order (ordered agg via sorted structs)
    val tox = t.select(col("doc_id"), col("nt"),
        posexplode(col("tk")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("tok"))
    val clean = tox.join(cov,
        col("doc_id") === col("cdoc") && col("p") === col("tp"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(expr("transform(array_sort(collect_list(struct(p, tok))), x -> x.tok)"), " ")
        .as("clean_text"))
    t.select(col("doc_id"), col("nt"))
      .join(dupCnt, Seq("doc_id"), "left")
      .join(clean, Seq("doc_id"), "left")
      .select(
        col("doc_id").as(idCol),
        col("nt").cast("long").as("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).cast("long").as("n_dup_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Repeated-span removal with the identical-content collapse (round
    * 11, the §10.16 technique applied to span removal) — the form for a
    * RAW corpus, where duplication is the norm. The result depends only
    * on a doc's TOKEN SEQUENCE and the corpus-global duplicated-shingle
    * set, so the window explode, coverage distinct, and ordered rebuild
    * run once per DISTINCT sequence and members inherit by a hash join.
    * The global counts stay exact: each representative's windows are
    * weighted by its group size (k identical copies make every window
    * corpus-duplicated — a shingle occurring once in each of two
    * identical docs IS duplicated). On the 99%-duplicate 100× corpus the
    * 98M-row window explode and the ~490M-row coverage distinct drop to
    * the ~5k-representative grain: 101 → 15.4 s at 100×, 64.5 s at
    * 1000× (previously unfeasible). SpanCollapseSpec pins the output
    * against the per-doc chain on a replicated corpus.
    */
  private[queries] def repeatedSpanCleanCollapsed(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = SpanN): DataFrame = {
    // tokens can't contain whitespace (\s+ split), so "\n" is a safe
    // order-preserving sequence key
    val t = docs
      .select(col(idCol).as("doc_id"), toks(col(textCol)).as("tk"))
      .withColumn("nt", size(col("tk")))
      .withColumn("tkh", md5(concat_ws("\n", col("tk"))))
    // one representative per distinct token sequence + the member count.
    // min(tk) — not first() — picks the (identical) sequence: min is
    // deterministic, first() is not, and nondeterminism here blocks
    // exchange/cache reuse for every downstream consumer.
    val grp = t.groupBy(col("tkh"))
      .agg(count(lit(1)).as("gsz"), min(col("tk")).as("tk"),
        min(col("nt")).as("nt"))
    // (sequence, pos, shingle) at representative grain, for sequences
    // long enough to have a window
    val sh = grp.filter(col("nt") >= n)
      .select(col("tkh"), col("gsz"),
        // every n-token window via the native ShinglesExpr (non-distinct
        // — ShingleExprSpec pins window-per-position semantics)
        posexplode(graft.functions.ShinglesExpr.shingles(col("tk"), n, distinct = false))
          .as(Seq("p0", "sh")))
      .select(col("tkh"), col("gsz"), (col("p0") + 1).as("pos"), col("sh"))
    // corpus-global occurrence counts: representative windows weighted by
    // group size (map-side combinable sum)
    val dup = sh.groupBy(col("sh")).agg(sum(col("gsz")).as("c"))
      .filter(col("c") > 1).select(col("sh"))
    // token positions covered by a duplicated shingle — representative grain
    val cov = sh.join(dup, "sh")
      .select(col("tkh").as("ch"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tp"))
      .distinct()
    val dupCnt = cov.groupBy(col("ch").as("tkh"))
      .agg(count(lit(1)).as("n_dup_tokens"))
    // rebuild: surviving tokens in order (ordered agg via sorted structs)
    val tox = grp.select(col("tkh"),
        posexplode(col("tk")).as(Seq("p0", "tok")))
      .select(col("tkh"), (col("p0") + 1).as("p"), col("tok"))
    val clean = tox.join(cov,
        col("tkh") === col("ch") && col("p") === col("tp"), "left_anti")
      .groupBy(col("tkh"))
      .agg(array_join(expr("transform(array_sort(collect_list(struct(p, tok))), x -> x.tok)"), " ")
        .as("clean_text"))
    // member expansion: docs inherit their sequence's result
    t.select(col("doc_id"), col("nt"), col("tkh"))
      .join(dupCnt, Seq("tkh"), "left")
      .join(clean, Seq("tkh"), "left")
      .select(
        col("doc_id").as(idCol),
        col("nt").cast("long").as("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).cast("long").as("n_dup_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  def qExactSubstr(spark: SparkSession, dir: String): DataFrame =
    repeatedSpanCleanCollapsed(documents(spark, dir), "doc_id", "text")
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_dup_tokens"),
        round(col("n_dup_tokens").cast("double") / col("n_tokens"), 6).as("dup_frac"),
        md5(col("clean_text")).as("clean_hash"))
      .orderBy(col("doc_id"))

  val qExactSubstrOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk,
      |         len(string_split_regex(trim(text), '\s+')) AS nt
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, unnest(generate_series(1, nt - 4)) AS pos, tk
      |  FROM t WHERE nt >= 5
      |), sh2 AS (
      |  SELECT doc_id, pos, array_to_string(tk[pos:pos+4], ' ') AS sh FROM sh
      |), dup AS (
      |  SELECT sh FROM (SELECT sh, count(*) AS c FROM sh2 GROUP BY 1) WHERE c > 1
      |), cov AS (
      |  SELECT DISTINCT doc_id, tp FROM (
      |    SELECT s.doc_id, unnest(generate_series(s.pos, s.pos + 4)) AS tp
      |    FROM sh2 s JOIN dup USING (sh))
      |), dc AS (
      |  SELECT doc_id, count(*) AS nd FROM cov GROUP BY 1
      |), tox AS (
      |  SELECT doc_id, unnest(generate_series(1, nt)) AS p, tk FROM t
      |), tox2 AS (
      |  SELECT doc_id, p, tk[p] AS tok FROM tox
      |), clean AS (
      |  SELECT x.doc_id, string_agg(x.tok, ' ' ORDER BY x.p) AS ct
      |  FROM tox2 x
      |  WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = x.doc_id AND c.tp = x.p)
      |  GROUP BY 1
      |)
      |SELECT t.doc_id, CAST(nt AS BIGINT) AS n_tokens,
      |       CAST(coalesce(dc.nd, 0) AS BIGINT) AS n_dup_tokens,
      |       round(CAST(coalesce(dc.nd, 0) AS DOUBLE) / nt, 6) AS dup_frac,
      |       md5(coalesce(clean.ct, '')) AS clean_hash
      |FROM t LEFT JOIN dc USING (doc_id) LEFT JOIN clean USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // --- vocabulary pruning + OOV accounting ---
  // Build the retained vocabulary IN-PLAN: the top-V tokens by corpus
  // frequency (tiebreak: token asc, so the cut is total-ordered and
  // engine-independent), then score every document's out-of-vocabulary
  // token fraction — the signal tokenizer work uses to size vocabularies
  // and find noise docs. The vocabulary is two narrow aggregations
  // (token count → rank) and broadcasts; scoring is one explode + one
  // broadcast semi-join + one per-doc count. No corpus-sized shuffle
  // beyond the token count itself.
  private val VocabTopV = 20

  def qVocabOov(spark: SparkSession, dir: String): DataFrame = {
    val tox = documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    // top-V as orderBy+limit → TakeOrderedAndProject: each task keeps a
    // V-row heap, the driver merges — no single-partition window even
    // when the distinct vocabulary is millions of tokens
    val vocab = tox.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc)
      .limit(VocabTopV)
      .select(col("tok"))
    val oov = tox.join(broadcast(vocab), Seq("tok"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_oov"))
    documents(spark, dir)
      .select(col("doc_id"), size(toks(col("text"))).as("n_tokens"))
      .join(oov, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).cast("long").as("n_oov"),
        round(coalesce(col("n_oov"), lit(0L)).cast("double") / col("n_tokens"), 6)
          .as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  val qVocabOovOracle: String =
    """WITH tox AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents
      |), vocab AS (
      |  SELECT tok FROM (
      |    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rk
      |    FROM tox GROUP BY tok)
      |  WHERE rk <= 20
      |), oov AS (
      |  SELECT doc_id, count(*) AS n_oov FROM tox
      |  WHERE tok NOT IN (SELECT tok FROM vocab) GROUP BY 1
      |), n AS (
      |  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens
      |  FROM documents
      |)
      |SELECT n.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |       CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
      |       round(CAST(coalesce(n_oov, 0) AS DOUBLE) / n_tokens, 6) AS oov_rate
      |FROM n LEFT JOIN oov USING (doc_id) ORDER BY doc_id""".stripMargin

  // --- per-doc contamination fraction ---
  // The graded companion to the binary decontaminate gate: for every
  // training doc, the fraction of its distinct 3-gram shingles that
  // appear anywhere in the benchmark slice (doc_id % 97 == 0, same slice
  // as q_decontaminate). Pipelines threshold this at different levels
  // for different evals; reporting the fraction keeps that policy
  // decision out of the engine. Benchmark shingle set is distinct-ed and
  // broadcast (eval suites are bounded); scoring is a per-doc count —
  // the corpus-side shingles never shuffle.
  def qContamFraction(spark: SparkSession, dir: String): DataFrame = {
    val shingled = documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(graft.functions.ShinglesExpr.shingles(col("tk")))
        .as("shingle"))
    val benchSet = shingled.filter(col("doc_id") % 97 === 0)
      .select(col("shingle")).distinct()
    val train = shingled.filter(col("doc_id") % 97 =!= 0)
    train.join(broadcast(benchSet.withColumn("hit", lit(1))), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_shingles"), 6).as("contam_frac"))
      .orderBy(col("doc_id"))
  }

  val qContamFractionOracle: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
      |  WHERE len(string_split_regex(trim(text), '\s+')) >= 3
      |), s AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(tk)-2),
      |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS shingle
      |  FROM d
      |), bench AS (
      |  SELECT DISTINCT shingle FROM s WHERE doc_id % 97 = 0
      |)
      |SELECT s.doc_id, count(*) AS n_shingles, count(b.shingle) AS n_hit,
      |       round(CAST(count(b.shingle) AS DOUBLE) / count(*), 6) AS contam_frac
      |FROM s LEFT JOIN bench b USING (shingle)
      |WHERE s.doc_id % 97 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- importance sampling by a per-row acceptance probability ---
  // Stratified sampling (q_sample_stratified) keeps a fixed rate per
  // group; importance sampling keeps each row with its OWN probability —
  // here min(1, n_chars/400), the "longer docs are likelier kept" shape
  // quality-weighted corpus subsampling uses. Acceptance is the same
  // salted-md5 uniform used by the split/sample ops (deterministic,
  // seed-isolated, portable across engines); the threshold compare is
  // integer-exact (p scaled by 10000) so no float boundary can flip a
  // row between engines. Pure per-row filter: zero shuffles.
  def qImportanceSample(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(concat('imp7:', cast(doc_id as string))), 1, 15), 16, 10) as bigint) % 10000"))
      .withColumn("thresh", least(lit(10000L), col("n_chars") * 25))
      .filter(col("bucket") < col("thresh"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("bucket"), col("thresh"))
      .orderBy(col("doc_id"))

  val qImportanceSampleOracle: String =
    """SELECT doc_id, lang, n_chars,
      |       CAST('0x' || substr(md5('imp7:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS bucket,
      |       least(10000, n_chars * 25) AS thresh
      |FROM documents
      |WHERE CAST('0x' || substr(md5('imp7:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000
      |      < least(10000, n_chars * 25)
      |ORDER BY 1""".stripMargin

  // --- per-label embedding centroids ---
  // Class centroids over the embedding table (the building block behind
  // SemDeDup clustering, diversity scoring, and nearest-class-mean
  // classification), computed with the same order-insensitive decimal
  // arithmetic as the IVF trainer: coordinates round to 6 decimals, sum
  // as DECIMAL(28,6) (exact, shuffle-order-proof), divide once. One
  // map-side-combinable groupBy on (label, dim) — the shuffle carries
  // 64·L partial cells per mapper regardless of corpus size. Output is
  // one row per centroid cell, so the gate pins every coordinate.
  // Output is the mean in INTEGER micro-units (1e-6), computed with an
  // explicit half-up integer division — `round(sx/n, 6)` on a DOUBLE is
  // a latent cross-engine boundary bug: decimal-sum / integer-count
  // quotients land on exact half-boundaries often, and Spark
  // (BigDecimal shortest-repr, HALF_UP) and DuckDB (binary multiply)
  // round them differently (observed 1/640 rows at sf0.1).
  // halfUp(a/b) = (2a + b) div (2b) on non-negative integers; signs
  // handled explicitly (half-away-from-zero, matching HALF_UP).
  def qLabelCentroids(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .select(col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(
        // scale-shift per row BEFORE summing: the coordinate in exact
        // 1e-6 integer units, so no post-sum decimal multiply can
        // overflow precision 38
        sum(expr(
          "CAST(CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(18,6)) * 1000000 AS DECIMAL(38,0))"))
          .as("su"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        expr("""CASE WHEN su >= 0
               |  THEN CAST((2 * su + n) div (2 * n) AS BIGINT)
               |  ELSE -CAST((2 * (-su) + n) div (2 * n) AS BIGINT)
               |END""".stripMargin).as("mean_e6"),
        col("n").as("n_vecs"))
      .orderBy(col("label"), col("dim"))

  val qLabelCentroidsOracle: String =
    """WITH x AS (
      |  SELECT label, unnest(generate_series(0, len(embedding) - 1)) AS dim, embedding
      |  FROM embeddings
      |), s AS (
      |  SELECT label, dim,
      |         CAST(sum(CAST(CAST(round(CAST(embedding[dim + 1] AS DOUBLE), 6) AS DECIMAL(18,6))
      |              * 1000000 AS DECIMAL(38,0))) AS HUGEINT) AS su,
      |         count(*) AS n
      |  FROM x GROUP BY 1, 2
      |)
      |SELECT label, CAST(dim AS INT) AS dim,
      |       CASE WHEN su >= 0 THEN CAST((2 * su + n) // (2 * n) AS BIGINT)
      |            ELSE -CAST((2 * (-su) + n) // (2 * n) AS BIGINT) END AS mean_e6,
      |       n AS n_vecs
      |FROM s ORDER BY 1, 2""".stripMargin

  // --- embedding covariance matrix (PCA / whitening prep) ---
  // The Gram-style pass behind PCA whitening and diversity analysis:
  // cov(i,j) = E[x_i·x_j] − E[x_i]·E[x_j] over all vectors, upper
  // triangle only. Shape at scale: the double-explode produces d²/2 rows
  // per vector but the groupBy(i,j) is map-side combinable, so the
  // shuffle carries at most d²/2 partial cells PER MAPPER — the classic
  // distributed outer-product accumulation, independent of corpus size.
  // Per-dim means are a 64-row broadcast. Determinism: coordinates
  // quantize ONCE to integer micro-units (q6 = round(x,6)·1e6, BIGINT)
  // and all cross products are exact integer q6_i·q6_j — DECIMAL
  // summation is order-insensitive, one division + subtraction at the
  // end. Like the centroids, all rounding is explicit half-up INTEGER
  // division: cov_e8 = halfUp((SP12·1e4 − n·M8_i·M8_j) / (n·1e8)) where
  // SP12 = Σ q6_i·q6_j and M8 = halfUp(Σq6·100 / n) are exact integers
  // — `round(double, 8)` at the end was a cross-engine boundary bug
  // (observed 1/2080 rows at sf0.1), and round-per-product was 4M
  // interpreted BigDecimal ops per pass.
  def qEmbedCovariance(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dims = e
      .select(posexplode(col("v")).as(Seq("i", "xi")))
      .groupBy(col("i"))
      .agg(sum(expr(
          "CAST(CAST(round(xi, 6) AS DECIMAL(18,6)) * 100000000 AS DECIMAL(38,0))"))
          .as("su"),
        count(lit(1)).as("n"))
      .select(col("i"),
        expr("""CASE WHEN su >= 0
               |  THEN CAST((2 * su + n) div (2 * n) AS BIGINT)
               |  ELSE -CAST((2 * (-su) + n) div (2 * n) AS BIGINT)
               |END""".stripMargin).as("m8"))
    // Products in exact integer micro-units: each coordinate rounds ONCE
    // to q6 = round(x, 6)·1e6 (BIGINT), and every cross product is the
    // exact integer q6_i·q6_j (units 1e-12). The per-product round(·,8)
    // form was 4.16M interpreted BigDecimal rounds — the dominant cost
    // once the fold-metric bench timed real materialization (~8 s at
    // sf0.1; this form ~2 s). Means are IDENTICAL (Σq6·100 =
    // Σround(x,6)·1e8); covariance now quantizes INPUTS once instead of
    // each product — the same integer-micro-unit determinism discipline
    // the rest of the engine uses.
    //
    // All 2080 upper-triangle cell sums accumulate in ONE array-typed
    // aggregate ([[graft.functions.OuterProductSum]]): a compiled
    // 128-bit (hi, lo) accumulator per cell with map-side partials,
    // replacing 2080 interpreted named_structs per row exploded into a
    // 41.6M-row hash aggregation (that form: ~2.9 s at sf0.1; this one
    // ~0.9 s). Exact at arbitrary coordinate scale — Math.multiplyHigh
    // gives the full signed product, and hi·2⁶⁴ + unsigned(lo) below
    // reconstructs the same DECIMAL(38,0) the oracle's HUGEINT sums
    // carry, with the identical ~1.7e38 ceiling. OuterProductSumSpec
    // pins the aggregate against the declarative decimal sums on real
    // embeddings plus adversarial magnitudes/signs.
    val ops = udaf(new graft.functions.OuterProductSum(64))
    val sums = e
      .withColumn("v6", expr(
        "transform(v, x -> CAST(CAST(round(x, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT))"))
      .agg(ops(col("v6")).as("hl"), count(lit(1)).as("nv"))
    val prods = sums
      .select(col("hl"), col("nv"), explode(expr(
        """flatten(transform(sequence(0, 63), i ->
          |  transform(sequence(i, 63), j -> named_struct('i', i, 'j', j))))""".stripMargin))
        .as("ij"))
      .select(col("ij.i").cast("int").as("i"), col("ij.j").cast("int").as("j"),
        col("nv").as("n"),
        expr("element_at(hl, (ij.i * 64 + ij.j) * 2 + 1)").as("hi"),
        expr("element_at(hl, (ij.i * 64 + ij.j) * 2 + 2)").as("lo"))
      .withColumn("sp12", expr(
        """CAST(hi AS DECIMAL(38,0)) * CAST('18446744073709551616' AS DECIMAL(20,0))
          | + CASE WHEN lo >= 0 THEN CAST(lo AS DECIMAL(38,0))
          |   ELSE CAST(lo AS DECIMAL(38,0))
          |        + CAST('18446744073709551616' AS DECIMAL(20,0)) END""".stripMargin))
      .select(col("i"), col("j"), col("sp12"), col("n"))
    prods
      .join(broadcast(dims.select(col("i"), col("m8").as("m8_i"))), "i")
      .join(broadcast(dims.select(col("i").as("j"), col("m8").as("m8_j"))), "j")
      .withColumn("num", expr(
        "sp12 * 10000 - CAST(n AS DECIMAL(38,0)) * m8_i * m8_j"))
      .withColumn("den", expr("CAST(n AS DECIMAL(38,0)) * 100000000"))
      .select(col("i"), col("j"),
        expr("""CASE WHEN num >= 0
               |  THEN CAST((2 * num + den) div (2 * den) AS BIGINT)
               |  ELSE -CAST((2 * (-num) + den) div (2 * den) AS BIGINT)
               |END""".stripMargin).as("cov_e8"))
      .orderBy(col("i"), col("j"))
  }

  val qEmbedCovarianceOracle: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), dims AS (
      |  SELECT i,
      |         CAST(sum(CAST(CAST(round(v[i + 1], 6) AS DECIMAL(18,6))
      |              * 100000000 AS DECIMAL(38,0))) AS HUGEINT) AS su,
      |         count(*) AS n
      |  FROM e, (SELECT unnest(generate_series(0, 63)) AS i) di
      |  GROUP BY 1
      |), m AS (
      |  SELECT i, CASE WHEN su >= 0 THEN (2 * su + n) // (2 * n)
      |                 ELSE -((2 * (-su) + n) // (2 * n)) END AS m8
      |  FROM dims
      |), q AS (
      |  SELECT vec_id, list_transform(v, x ->
      |    CAST(CAST(round(x, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS v6
      |  FROM e
      |), prods AS (
      |  SELECT i, j,
      |         CAST(sum(CAST(v6[i + 1] AS HUGEINT) * v6[j + 1]) AS HUGEINT) AS sp12,
      |         count(*) AS n
      |  FROM q, (SELECT unnest(generate_series(0, 63)) AS i) di,
      |          (SELECT unnest(generate_series(0, 63)) AS j) dj
      |  WHERE i <= j
      |  GROUP BY 1, 2
      |), c AS (
      |  SELECT p.i, p.j,
      |         sp12 * 10000 - CAST(n AS HUGEINT) * mi.m8 * mj.m8 AS num,
      |         CAST(n AS HUGEINT) * 100000000 AS den
      |  FROM prods p JOIN m mi ON p.i = mi.i JOIN m mj ON p.j = mj.i
      |)
      |SELECT i, j,
      |       CASE WHEN num >= 0 THEN CAST((2 * num + den) // (2 * den) AS BIGINT)
      |            ELSE -CAST((2 * (-num) + den) // (2 * den) AS BIGINT) END AS cov_e8
      |FROM c ORDER BY 1, 2""".stripMargin

  // --- per-source corpus report card ---
  // The summary a data curator reads before a training run: per source,
  // volume (docs/tokens/chars), shape (mean length, short-doc share),
  // and language spread. One map-side-combinable groupBy over per-row
  // codegen'd projections; every derived number is exact integer
  // arithmetic divided once.
  def qSourceReport(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("source"), col("lang"), col("n_chars"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 4)
          .as("mean_chars"),
        round(sum(when(col("n_chars") < 200, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("short_frac"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("source"))

  val qSourceReportOracle: String =
    """SELECT source, count(*) AS n_docs,
      |       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS mean_chars,
      |       round(CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*), 6) AS short_frac,
      |       count(DISTINCT lang) AS n_langs
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // --- curriculum quality binning ---
  // Rank every document by a quality proxy under a TOTAL order (score,
  // then doc_id — ntile over a partial order is engine-dependent) and
  // split into deciles; report per-bin volume and score bounds. The
  // curriculum-learning prep: training orders bins easy→hard, mixture
  // weights re-weight per bin. One global sort (Spark range-partitions
  // it; no single-task window at scale because ntile over an UNPARTITIONED
  // window is explicitly the accepted cost here — deciles need a global
  // rank; at 100 TB the same op runs on a pre-aggregated (score, count)
  // histogram instead, documented divergence).
  def qQualityBins(spark: SparkSession, dir: String): DataFrame = {
    val scored = documents(spark, dir)
      .withColumn("tk", toks(col("text")))
      .select(col("doc_id"),
        round(length(regexp_replace(col("text"), "\\s+", ""))
          .cast("double") / size(col("tk")), 6).as("score"))
    scored
      .withColumn("bin",
        ntile(10).over(Window.orderBy(col("score"), col("doc_id"))))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score")).as("score_min"),
        max(col("score")).as("score_max"))
      .orderBy(col("bin"))
  }

  val qQualityBinsOracle: String =
    """WITH s AS (
      |  SELECT doc_id,
      |         round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
      |               / len(string_split_regex(trim(text), '\s+')), 6) AS score
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, score, CAST(ntile(10) OVER (ORDER BY score, doc_id) AS INT) AS bin
      |  FROM s
      |)
      |SELECT bin, count(*) AS n_docs, min(score) AS score_min, max(score) AS score_max
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // --- per-group z-score normalization ---
  // Standardize a per-doc metric within its language group (the
  // cross-lingual comparability transform): mean and variance from
  // decimal-exact sums of x and x² (one map-side-combinable groupBy, a
  // bounded broadcast back), z computed per-row. Population variance;
  // all rounding happens at fixed points so both engines agree
  // bit-for-bit.
  def qZscoreNorm(spark: SparkSession, dir: String): DataFrame = {
    val stats = documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        sum(col("n_chars").cast("decimal(28,0)")).as("sx"),
        sum((col("n_chars") * col("n_chars")).cast("decimal(38,0)")).as("sxx"),
        count(lit(1)).as("n"))
      .select(col("lang"),
        round(col("sx").cast("double") / col("n"), 6).as("mean"),
        round(sqrt(
          col("sxx").cast("double") / col("n") -
            (col("sx").cast("double") / col("n")) * (col("sx").cast("double") / col("n"))), 6)
          .as("sd"))
    documents(spark, dir)
      .join(broadcast(stats), "lang")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round((col("n_chars").cast("double") - col("mean")) / col("sd"), 6).as("z"))
      .orderBy(col("doc_id"))
  }

  val qZscoreNormOracle: String =
    """WITH st AS (
      |  SELECT lang,
      |         round(CAST(sum(CAST(n_chars AS DECIMAL(28,0))) AS DOUBLE) / count(*), 6) AS mean,
      |         round(sqrt(CAST(sum(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS DOUBLE) / count(*)
      |               - (CAST(sum(CAST(n_chars AS DECIMAL(28,0))) AS DOUBLE) / count(*))
      |                 * (CAST(sum(CAST(n_chars AS DECIMAL(28,0))) AS DOUBLE) / count(*))), 6) AS sd
      |  FROM documents GROUP BY 1
      |)
      |SELECT doc_id, d.lang, n_chars,
      |       round((CAST(n_chars AS DOUBLE) - mean) / sd, 6) AS z
      |FROM documents d JOIN st USING (lang)
      |ORDER BY doc_id""".stripMargin

  // --- BPE merge-candidate scoring (the tokenizer-training inner loop) ---
  // One iteration of byte-pair-encoding vocabulary learning: corpus-
  // weighted adjacent character-pair frequencies, top candidates first.
  // The full trainer repeats this after applying the winning merge; each
  // iteration is exactly this plan, so gating one iteration gates the
  // loop body. Scale shape: pair statistics aggregate over DISTINCT
  // words (vocabulary-sized, not corpus-sized — the standard BPE trick),
  // so the corpus-wide shuffle carries one row per distinct word, and
  // the pair explode is bounded by word length × vocabulary.
  def qBpePairs(spark: SparkSession, dir: String): DataFrame = {
    val words = documents(spark, dir)
      .select(explode(toks(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .filter(length(col("w")) >= 2)
    words
      .select(col("wc"),
        explode(graft.functions.CharNgramsExpr.charNgrams(col("w"), 2)).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("wc")).as("freq"))
      .orderBy(col("freq").desc, col("pair").asc)
      .limit(20)
  }

  val qBpePairsOracle: String =
    """WITH words AS (
      |  SELECT w, count(*) AS wc FROM (
      |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
      |  GROUP BY 1 HAVING length(w) >= 2
      |), pairs AS (
      |  SELECT substr(w, i, 2) AS pair, wc
      |  FROM words, (SELECT unnest(generate_series(1, 100)) AS i) idx
      |  WHERE i <= length(w) - 1
      |)
      |SELECT pair, CAST(sum(wc) AS BIGINT) AS freq
      |FROM pairs GROUP BY 1
      |ORDER BY freq DESC, pair ASC LIMIT 20""".stripMargin

  // --- approximate percentile, gated on its accuracy contract ---
  // The q_quantiles companion at 100 TB: exact per-group percentiles
  // sort every group; approx_percentile answers from a bounded mergeable
  // sketch. Like q_distinct_approx, the sketch value is engine-specific,
  // so the gate checks the CONTRACT: the estimate must land within the
  // exact group's [p25-neighborhood] — here, within 10% relative error
  // of the exact percentile (fixture-deterministic, not statistical).
  def qPercentileApprox(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        expr("percentile(n_chars, 0.5)").as("p50_exact"),
        expr("approx_percentile(n_chars, 0.5, 1000)").as("p50_approx"))
      .select(col("lang"), round(col("p50_exact"), 4).as("p50_exact"),
        (abs(col("p50_approx") - col("p50_exact"))
          <= col("p50_exact") * 0.10).as("within_10pct"))
      .orderBy(col("lang"))

  val qPercentileApproxOracle: String =
    """SELECT lang, round(quantile_cont(n_chars, 0.5), 4) AS p50_exact,
      |       TRUE AS within_10pct
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // --- containment near-dup: asymmetric subset duplication ---
  // Jaccard misses the quote-expansion case: a short doc fully contained
  // in a long one scores low symmetric similarity but containment
  // |A∩B| / min(|A|,|B|) ≈ 1. Candidate generation is the OVERLAP form
  // of the prefix filter (PPJoin family): a pair with containment >= 4/5
  // shares >= ceil(4·min/5) shingles, so the smaller side's first
  // n − ceil(4n/5) + 1 canonical-order shingles must hit the other side
  // — each doc's prefix joins FULL posting lists (either side may be the
  // smaller), which stays lossless; thresholds are integer-exact
  // (common·5 >= min·4). Rare-shingles-first canonical order keeps the
  // prefix×postings join bounded.
  def qDedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val base = ShingleSets.base(documents(spark, dir)).transform(graft.CacheScope.persist)
    val reps = ShingleSets.reps(base)
    val shingles = ShingleSets.postings(reps).transform(graft.CacheScope.persist)
    val cand = ShingleSets.prefixes(shingles, 4, 5)
      .select(col("doc_id").as("pdoc"), col("shingle"))
      .join(shingles.select(col("doc_id").as("fdoc"), col("shingle")), "shingle")
      .filter(col("pdoc") =!= col("fdoc"))
      .select(least(col("pdoc"), col("fdoc")).as("doc_a"),
        greatest(col("pdoc"), col("fdoc")).as("doc_b"))
      .distinct()
    val blocks = ShingleSets.verify(cand, reps)
      .filter(col("common") * 5 >= least(col("na"), col("nb")) * 4)
      .select(col("ha"), col("hb"), col("common"),
        round(col("common").cast("double") / least(col("na"), col("nb")), 6)
          .as("containment"))
    ShingleSets.expand(base, blocks,
      col("n_shingles").cast("long").as("common"), lit(1.0).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val qDedupContainmentOracle: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
      |  WHERE len(string_split_regex(trim(text), '\s+')) >= 3
      |), s AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(tk)-2),
      |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS shingle
      |  FROM d
      |), n AS (
      |  SELECT doc_id, count(*) AS ns FROM s GROUP BY 1
      |), pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b, common,
      |       round(CAST(common AS DOUBLE) / least(na.ns, nb.ns), 6) AS containment
      |FROM pairs
      |JOIN n na ON na.doc_id = doc_a
      |JOIN n nb ON nb.doc_id = doc_b
      |WHERE common * 5 >= least(na.ns, nb.ns) * 4
      |ORDER BY 1, 2""".stripMargin

  // --- join-key skew report ---
  // The pre-join diagnostic a 100 TB pipeline runs before choosing a
  // strategy (broadcast / salt / AQE skew-join): per-key volumes reduced
  // to the numbers that drive the decision — key count, max key, top-10
  // concentration, and max/avg ratio. One map-side-combinable groupBy
  // plus a 10-row TakeOrdered; integer-exact except the one ratio.
  def qSkewReport(spark: SparkSession, dir: String): DataFrame = {
    val counts = events(spark, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"))
    val top10 = counts.orderBy(col("c").desc, col("user_id")).limit(10)
      .agg(sum(col("c")).as("top10_rows"))
    counts
      .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
        max(col("c")).as("max_key_rows"))
      .join(top10)
      .select(col("n_keys"), col("n_rows"), col("max_key_rows"), col("top10_rows"),
        round(col("max_key_rows") * col("n_keys").cast("double") / col("n_rows"), 6)
          .as("skew_ratio"))
  }

  val qSkewReportOracle: String =
    """WITH c AS (
      |  SELECT user_id, count(*) AS c FROM events GROUP BY 1
      |), t AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS top10_rows FROM (
      |    SELECT c FROM c ORDER BY c DESC, user_id LIMIT 10)
      |)
      |SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
      |       CAST(max(c) AS BIGINT) AS max_key_rows,
      |       (SELECT top10_rows FROM t) AS top10_rows,
      |       round(max(c) * CAST(count(*) AS DOUBLE) / sum(c), 6) AS skew_ratio
      |FROM c""".stripMargin

  // --- packing-efficiency report ---
  // The planning question behind choosing a context length: how much
  // padding does each candidate size waste? Under split-aware (span)
  // packing every sequence except the last of each (lang, shard) group
  // is exactly full, so waste is ANALYTIC: ceil(T/C)·C − T per group —
  // one map-side-combinable groupBy and integer arithmetic, no window,
  // no explode of the packing itself. Evaluating four candidate sizes
  // costs four rows per group, not four packing passes.
  def qPackingEfficiency(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("lang"), (col("doc_id") % 8).as("shard"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("lang"), col("shard"))
      .agg(sum(col("n_tokens")).as("t"))
      .select(col("t"), explode(expr("array(512, 1024, 2048, 4096)")).as("c"))
      .withColumn("n_seqs", expr("(t + c - 1) div c"))
      .groupBy(col("c").as("context_size"))
      .agg(
        sum(col("n_seqs")).as("n_sequences"),
        sum(col("t")).as("total_tokens"),
        sum(col("n_seqs") * col("c") - col("t")).as("padding_waste"))
      .select(col("context_size"), col("n_sequences"), col("total_tokens"),
        col("padding_waste"),
        round(col("padding_waste").cast("double") /
          (col("padding_waste") + col("total_tokens")), 6).as("waste_frac"))
      .orderBy(col("context_size"))

  val qPackingEfficiencyOracle: String =
    """WITH g AS (
      |  SELECT lang, doc_id % 8 AS shard,
      |         sum(len(string_split_regex(trim(text), '\s+'))) AS t
      |  FROM documents GROUP BY 1, 2
      |), x AS (
      |  SELECT t, c, (t + c - 1) // c AS n_seqs
      |  FROM g, (SELECT unnest([512, 1024, 2048, 4096]) AS c) cs
      |)
      |SELECT CAST(c AS INT) AS context_size,
      |       CAST(sum(n_seqs) AS BIGINT) AS n_sequences,
      |       CAST(sum(t) AS BIGINT) AS total_tokens,
      |       CAST(sum(n_seqs * c - t) AS BIGINT) AS padding_waste,
      |       round(CAST(sum(n_seqs * c - t) AS DOUBLE)
      |             / (sum(n_seqs * c - t) + sum(t)), 6) AS waste_frac
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  // --- per-document novelty vs a reference corpus slice ---
  // The curation score for "how much of this doc is NEW relative to
  // what we already have": fraction (basis points) of the doc's
  // distinct trigram shingles absent from the reference slice
  // (sources src0-src4). The inverse of contamination scoring — used
  // to PRIORITIZE additions rather than reject them. Shape: one
  // equi-join of candidate shingles against the distinct reference
  // shingle set (left join + null marker — the join is the membership
  // test), then a per-doc count aggregation; novelty arithmetic is
  // integer basis points, `div` on non-negative operands.
  def qNovelty(spark: SparkSession, dir: String): DataFrame = {
    val shingled = documents(spark, dir)
      .select(col("doc_id"), col("source"),
        split(trim(col("text")), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), col("source"), explode(graft.functions.ShinglesExpr.shingles(col("tk")))
        .as("shingle"))
    val isRef = col("source").isin("src0", "src1", "src2", "src3", "src4")
    val refSet = shingled.filter(isRef)
      .select(col("shingle")).distinct().withColumn("seen", lit(1))
    shingled.filter(!isRef)
      .join(refSet, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("novel"))
      .select(col("doc_id"), col("n_shingles"),
        expr("(10000 * novel) div n_shingles").as("novel_bp"))
      .orderBy(col("doc_id"))
  }

  val qNoveltyOracle: String =
    """WITH d AS (
      |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS tk
      |  FROM documents
      |  WHERE len(string_split_regex(trim(text), '\s+')) >= 3
      |), s AS (
      |  SELECT doc_id, source, unnest(list_distinct(list_transform(
      |    generate_series(1, len(tk)-2),
      |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS shingle
      |  FROM d
      |), ref AS (
      |  SELECT DISTINCT shingle FROM s
      |  WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
      |)
      |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
      |       (10000 * CAST(sum(CASE WHEN ref.shingle IS NULL THEN 1 ELSE 0 END) AS BIGINT))
      |         // count(*) AS novel_bp
      |FROM s LEFT JOIN ref ON s.shingle = ref.shingle
      |WHERE s.source NOT IN ('src0', 'src1', 'src2', 'src3', 'src4')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- PCA top component via power iteration ---
  // Five unrolled power-iteration rounds v <- C·v over the 64×64
  // covariance, renormalized each round by the max |component| in
  // integer micro-units with sign-aware division — zero doubles, so
  // iterative state is bit-identical across engines (the PageRank/HITS
  // discipline applied to an eigenvector solve).
  //
  // The covariance pass here deliberately differs from
  // qEmbedCovariance's DECIMAL(38) sums: coordinates quantize once to
  // q6 = round(x,6)·1e6 (BIGINT), each cell is the exact product
  // q6_i·q6_j halfUp-rescaled to micro-units by INTEGER division (pure
  // long ops — no per-cell BigDecimal anywhere), and cell sums are
  // plain BIGINT — only the final 2080-cell mean-subtraction runs in
  // DECIMAL(38). Headroom: |term| <= ~1e6-scale, so a BIGINT sum holds
  // ~9e12 rows (multi-PB of 64-dim floats); qEmbedCovariance remains
  // the arbitrary-scale exact form. The cell sums accumulate in one
  // compiled array-typed aggregate (ScaledOuterProductSum, map-side
  // partials). The cell table is localCheckpoint'd (metadata scale) so the
  // three iterations never touch the corpus again; each iteration is a
  // 4096-row join + map-side-combinable groupBy. Uniform all-ones
  // start: deterministic, and not orthogonal to the top component on
  // real data.
  def qPcaPower(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("embedding").cast("array<double>").as("v"))
    val dims = e
      .select(posexplode(col("v")).as(Seq("i", "xi")))
      .groupBy(col("i"))
      .agg(sum(expr("CAST(CAST(round(xi, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)")).as("s6"),
        count(lit(1)).as("n"))
      .select(col("i"),
        expr("""CASE WHEN s6 >= 0
               |  THEN (2 * s6 + n) div (2 * n)
               |  ELSE -((2 * (-s6) + n) div (2 * n))
               |END""".stripMargin).as("m6"))
    // cell sums in ONE array-typed aggregate (the q_embed_covariance
    // recipe — see [[graft.functions.ScaledOuterProductSum]]), replacing
    // 2080 interpreted named_structs per row + a 41.6M-row hash agg;
    // per-cell arithmetic (long product, half-up rescale) is the exact
    // declarative form, spec-pinned
    val sops = udaf(new graft.functions.ScaledOuterProductSum(64, 1000000L))
    val prods = e
      .withColumn("v6", expr(
        "transform(v, x -> CAST(CAST(round(x, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT))"))
      .agg(sops(col("v6")).as("s"), count(lit(1)).as("nv"))
      .select(col("s"), col("nv"), explode(expr(
        """flatten(transform(sequence(0, 63), i ->
          |  transform(sequence(i, 63), j -> named_struct('i', i, 'j', j))))""".stripMargin))
        .as("ij"))
      .select(col("ij.i").cast("int").as("i"), col("ij.j").cast("int").as("j"),
        expr("element_at(s, ij.i * 64 + ij.j + 1)").as("sp6"), col("nv").as("n"))
    val upper = prods
      .join(broadcast(dims.select(col("i"), col("m6").as("m6_i"))), "i")
      .join(broadcast(dims.select(col("i").as("j"), col("m6").as("m6_j"))), "j")
      .withColumn("num", expr(
        "CAST(sp6 AS DECIMAL(38,0)) * 1000000 - CAST(n AS DECIMAL(38,0)) * m6_i * m6_j"))
      .withColumn("den", expr("CAST(n AS DECIMAL(38,0)) * 1000000"))
      .select(col("i"), col("j"),
        expr("""CASE WHEN num >= 0
               |  THEN CAST((2 * num + den) div (2 * den) AS BIGINT)
               |  ELSE -CAST((2 * (-num) + den) div (2 * den) AS BIGINT)
               |END""".stripMargin).as("c6"))
      .localCheckpoint(true)
    val cells = upper.unionAll(upper.filter(col("i") < col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("c6")))
    var v = spark.range(64)
      .select(col("id").cast("int").as("j"), lit(1000000L).as("vj"))
    for (_ <- 1 to 5) {
      val w = cells.join(v, Seq("j"))
        .groupBy(col("i")).agg(sum(col("c6") * col("vj")).as("w"))
      // normalizer via a global window, NOT agg + crossJoin(broadcast):
      // the crossJoin form referenced w TWICE per iteration, doubling
      // the logical plan each round (measured: 187 Exchange nodes and
      // ~1.4 s of planning for 5 iterations at 64 dims). The window
      // references w once, so the plan grows linearly; the frame is 64
      // rows, so the single-partition window exchange is free. Same
      // m = max(|w|, 1) value, same rescale arithmetic — bit-identical.
      v = w
        .withColumn("m", greatest(max(abs(col("w"))).over(
          Window.partitionBy()), lit(1L)))
        .select(col("i").as("j"),
          expr("""CASE WHEN w >= 0
                 |  THEN CAST(CAST(w AS DECIMAL(38,0)) * 1000000 div m AS BIGINT)
                 |  ELSE -CAST(CAST(-w AS DECIMAL(38,0)) * 1000000 div m AS BIGINT)
                 |END""".stripMargin).as("vj"))
    }
    v.select(col("j").cast("long").as("dim"), col("vj").as("pc1_scaled"))
      .orderBy(col("dim"))
  }

  val qPcaPowerOracle: String = {
    def iter(t: Int, prev: String): String =
      s"""w$t AS (
         |  SELECT c.i AS i, CAST(sum(CAST(c.c6 AS HUGEINT) * p.vj) AS HUGEINT) AS w
         |  FROM cells c JOIN $prev p ON c.j = p.j GROUP BY 1),
         |m$t AS (SELECT greatest(max(abs(w)), 1) AS m FROM w$t),
         |v$t AS (
         |  SELECT i AS j,
         |         CASE WHEN w >= 0 THEN 1000000 * w // m
         |              ELSE -((1000000 * (-w)) // m) END AS vj
         |  FROM w$t, m$t)""".stripMargin
    s"""WITH e AS (
       |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dims AS (
       |  SELECT i,
       |         CAST(sum(CAST(CAST(round(v[i + 1], 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS HUGEINT) AS s6,
       |         CAST(count(*) AS HUGEINT) AS n
       |  FROM e, (SELECT unnest(generate_series(0, 63)) AS i) di
       |  GROUP BY 1),
       |m AS (
       |  SELECT i, CASE WHEN s6 >= 0 THEN (2 * s6 + n) // (2 * n)
       |                 ELSE -((2 * (-s6) + n) // (2 * n)) END AS m6
       |  FROM dims),
       |q AS (
       |  SELECT list_transform(v, x ->
       |    CAST(CAST(round(x, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS v6
       |  FROM e),
       |prods AS (
       |  SELECT i, j,
       |         CAST(sum(CASE WHEN v6[i + 1] * v6[j + 1] >= 0
       |                       THEN (2 * v6[i + 1] * v6[j + 1] + 1000000) // 2000000
       |                       ELSE -((2 * -(v6[i + 1] * v6[j + 1]) + 1000000) // 2000000)
       |                  END) AS HUGEINT) AS sp6,
       |         CAST(count(*) AS HUGEINT) AS n
       |  FROM q, (SELECT unnest(generate_series(0, 63)) AS i) di,
       |          (SELECT unnest(generate_series(0, 63)) AS j) dj
       |  WHERE i <= j
       |  GROUP BY 1, 2),
       |c AS (
       |  SELECT p.i, p.j,
       |         sp6 * 1000000 - n * mi.m6 * mj.m6 AS num,
       |         n * 1000000 AS den
       |  FROM prods p JOIN m mi ON mi.i = p.i JOIN m mj ON mj.i = p.j),
       |cov AS (
       |  SELECT i, j,
       |         CASE WHEN num >= 0 THEN (2 * num + den) // (2 * den)
       |              ELSE -((2 * (-num) + den) // (2 * den)) END AS c6
       |  FROM c),
       |cells AS (
       |  SELECT i, j, c6 FROM cov
       |  UNION ALL SELECT j AS i, i AS j, c6 FROM cov WHERE i < j),
       |v0 AS (SELECT unnest(generate_series(0, 63)) AS j,
       |       CAST(1000000 AS HUGEINT) AS vj),
       |${iter(1, "v0")},
       |${iter(2, "v1")},
       |${iter(3, "v2")},
       |${iter(4, "v3")},
       |${iter(5, "v4")}
       |SELECT CAST(j AS BIGINT) AS dim, CAST(vj AS BIGINT) AS pc1_scaled
       |FROM v5 ORDER BY 1""".stripMargin
  }

  // --- dataset card (datasheet summary row) ---
  // The one-row "datasheet for datasets" (Gebru et al. 2021) a release
  // ships with: volume, composition, duplication, contamination-risk
  // and hygiene counters, all from cheap single-pass signals. Two
  // map-side-combinable aggregations (one per-row scan + one exact-dup
  // group count) cross-joined at metadata scale. Integer ppm
  // everywhere; the email probe reuses the PII regex family in the
  // Java/RE2 common subset.
  def qDatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(toks(col("text"))).cast("long").as("n_tokens"),
        expr("regexp_count(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}')")
          .cast("long").as("emails"),
        md5(col("text")).as("h"))
    val base = d.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum(when(col("n_chars") < 200, 1L).otherwise(0L)).as("short_docs"),
      sum(col("emails")).as("email_hits"))
    val dups = d.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") - 1).as("dup_docs"))
    base.crossJoin(dups)
      .select(col("n_docs"), col("n_tokens"), col("n_langs"), col("n_sources"),
        expr("1000000 * short_docs div n_docs").as("short_ppm"),
        expr("1000000 * dup_docs div n_docs").as("exact_dup_ppm"),
        col("email_hits"),
        expr("1000000 * n_tokens div n_docs").as("mean_tokens_micro"))
  }

  val qDatasetCardOracle: String =
    """WITH d AS (
      |  SELECT doc_id, lang, source, n_chars,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |         CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS emails,
      |         md5(text) AS h
      |  FROM documents),
      |base AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |         CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs,
      |         CAST(sum(emails) AS BIGINT) AS email_hits
      |  FROM d),
      |dups AS (
      |  SELECT CAST(sum(c - 1) AS BIGINT) AS dup_docs
      |  FROM (SELECT h, count(*) AS c FROM d GROUP BY 1))
      |SELECT n_docs, n_tokens, n_langs, n_sources,
      |       CAST(1000000 * short_docs // n_docs AS BIGINT) AS short_ppm,
      |       CAST(1000000 * dup_docs // n_docs AS BIGINT) AS exact_dup_ppm,
      |       email_hits,
      |       CAST(1000000 * n_tokens // n_docs AS BIGINT) AS mean_tokens_micro
      |FROM base CROSS JOIN dups""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dataset_card" -> (qDatasetCard _),
    "q_pca_power" -> (qPcaPower _),
    "q_novelty" -> (qNovelty _),
    "q_packing_efficiency" -> (qPackingEfficiency _),
    "q_dedup_containment" -> (qDedupContainment _),
    "q_skew_report" -> (qSkewReport _),
    "q_bpe_pairs" -> (qBpePairs _),
    "q_percentile_approx" -> (qPercentileApprox _),
    "q_quality_bins" -> (qQualityBins _),
    "q_zscore_norm" -> (qZscoreNorm _),
    "q_embed_covariance" -> (qEmbedCovariance _),
    "q_source_report" -> (qSourceReport _),
    "q_chunk_overlap" -> (qChunkOverlap _),
    "q_exact_substr" -> (qExactSubstr _),
    "q_vocab_oov" -> (qVocabOov _),
    "q_contam_fraction" -> (qContamFraction _),
    "q_importance_sample" -> (qImportanceSample _),
    "q_label_centroids" -> (qLabelCentroids _))

  val oracles: Map[String, String] = Map(
    "q_pca_power" -> qPcaPowerOracle,
    "q_dataset_card" -> qDatasetCardOracle,
    "q_novelty" -> qNoveltyOracle,
    "q_packing_efficiency" -> qPackingEfficiencyOracle,
    "q_dedup_containment" -> qDedupContainmentOracle,
    "q_skew_report" -> qSkewReportOracle,
    "q_bpe_pairs" -> qBpePairsOracle,
    "q_percentile_approx" -> qPercentileApproxOracle,
    "q_quality_bins" -> qQualityBinsOracle,
    "q_zscore_norm" -> qZscoreNormOracle,
    "q_embed_covariance" -> qEmbedCovarianceOracle,
    "q_source_report" -> qSourceReportOracle,
    "q_chunk_overlap" -> qChunkOverlapOracle,
    "q_exact_substr" -> qExactSubstrOracle,
    "q_vocab_oov" -> qVocabOovOracle,
    "q_contam_fraction" -> qContamFractionOracle,
    "q_importance_sample" -> qImportanceSampleOracle,
    "q_label_centroids" -> qLabelCentroidsOracle)
}
