package graft

import graft.dedup.DedupOps
import graft.multimodal.MultimodalOps
import graft.ops.Staged
import graft.sim.SimilarityOps
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data pipeline operators (dedup / similarity / text analysis /
  * multimodal plumbing) over the `documents` and `embeddings` tables —
  * first-class components beside the reference-parity inventory.
  */
object QueriesTrainingData {
  import Tables._

  // ---------------------------------------------------------------- text
  /** Token counting: whitespace tokens, distinct tokens, and a BPE-ish
    * `\w+`-run proxy — all narrow codegen'd expressions. */
  def x01_token_count(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    documents(spark, dir).select(
      col("doc_id"),
      TextOps.tokenCount(t).as("n_tokens"),
      TextOps.distinctTokenCount(t).as("n_distinct_tokens"),
      TextOps.wordishCount(t).as("n_wordish"))
  }

  val x01Oracle: String =
    """SELECT doc_id,
      |  CASE WHEN length(text)=0 THEN 0 ELSE len(string_split_regex(text,'\s+')) END AS n_tokens,
      |  CASE WHEN length(text)=0 THEN 0 ELSE len(list_distinct(string_split_regex(text,'\s+'))) END AS n_distinct_tokens,
      |  len(list_filter(string_split_regex(text,'[^A-Za-z0-9]+'), x -> len(x) > 0)) AS n_wordish
      |FROM documents""".stripMargin

  /** Quality scoring: length/stopword/type-token signals (Gopher/C4-style
    * heuristics), ratios in DOUBLE with identical op order both engines. */
  def x02_quality_score(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val quality = TextOps.qualityColumnsOf(t, col("toks")).map { case (n, c) => c.as(n) }
    documents(spark, dir)
      .select(col("doc_id"), t, TextOps.tokens(t).as("toks"))
      .select(col("doc_id") +: length(t).as("n_chars") +: quality: _*)
  }

  val x02Oracle: String =
    """WITH base AS (
      |  SELECT doc_id, text, length(text) AS n_chars,
      |    CASE WHEN length(text)=0 THEN 0 ELSE len(string_split_regex(text,'\s+')) END AS nt,
      |    CASE WHEN length(text)=0 THEN 0 ELSE len(list_distinct(string_split_regex(text,'\s+'))) END AS nd,
      |    len(list_filter(string_split_regex(text,'\s+'),
      |        x -> x IN ('the','a','an','of','and','or','to','in','is','it'))) AS ns
      |  FROM documents)
      |SELECT doc_id, n_chars, nt AS n_tokens, nd AS n_distinct_tokens,
      |  CASE WHEN nt > 0 THEN CAST(n_chars AS DOUBLE) / CAST(nt AS DOUBLE) ELSE 0.0 END AS mean_token_len,
      |  CASE WHEN nt > 0 THEN CAST(ns AS DOUBLE) / CAST(nt AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
      |  CASE WHEN nt > 0 THEN CAST(nd AS DOUBLE) / CAST(nt AS DOUBLE) ELSE 0.0 END AS type_token_ratio
      |FROM base""".stripMargin

  /** Language ID: marker-token scoring with deterministic argmax. */
  def x03_langid(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    documents(spark, dir).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      TextOps.languageScore(t, "en").as("score_en"),
      TextOps.languageScore(t, "es").as("score_es"),
      TextOps.languageId(t).as("predicted_lang"))
  }

  val x03Oracle: String = {
    def score(markers: Seq[String]) =
      s"len(list_filter(string_split_regex(text,'\\s+'), x -> x IN (${markers.map("'" + _ + "'").mkString(",")})))"
    val langs = TextOps.languageMarkers.keys.toSeq.sorted // de,en,es,fr,zh
    val scoreExprs = langs.map(l => l -> score(TextOps.languageMarkers(l))).toMap
    val best = s"greatest(${langs.map(l => s"s_$l").mkString(",")})"
    s"""WITH scored AS (
       |  SELECT doc_id, lang, ${langs.map(l => s"${scoreExprs(l)} AS s_$l").mkString(", ")}
       |  FROM documents)
       |SELECT doc_id, lang AS labeled_lang, s_en AS score_en, s_es AS score_es,
       |  CASE ${langs.map(l => s"WHEN $best > 0 AND s_$l = $best THEN '$l'").mkString(" ")}
       |       ELSE 'und' END AS predicted_lang
       |FROM scored""".stripMargin
  }

  /** Content fingerprinting: md5 of normalized text + 60-bit integer
    * fingerprint (engine-reproducible, md5-derived). */
  def x04_fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    documents(spark, dir).select(
      col("doc_id"),
      TextOps.fingerprintMd5(t).as("fp_md5"),
      TextOps.fingerprint64(t).as("fp64"))
  }

  val x04Oracle: String =
    """WITH n AS (
      |  SELECT doc_id,
      |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS m
      |  FROM documents)
      |SELECT doc_id, m AS fp_md5,
      |  CAST(('0x' || substr(m, 1, 15)) AS BIGINT) AS fp64
      |FROM n""".stripMargin

  // ---------------------------------------------------------------- dedup
  /** Exact dedup on a content key (md5 of the 5-token prefix, which has
    * natural collisions in this corpus): survivor per group + group size.
    * Map-side-combining hash aggregate — the 100 TB exact-dedup shape. */
  def x05_dedup_exact(spark: SparkSession, dir: String): DataFrame = {
    val key = md5(concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)))
    DedupOps.exactDedup(documents(spark, dir), "doc_id", key)
  }

  val x05Oracle: String =
    """SELECT md5(array_to_string((string_split_regex(text,'\s+'))[1:5], ' ')) AS dup_key,
      |  min(doc_id) AS survivor_id, COUNT(*) AS group_size
      |FROM documents GROUP BY 1""".stripMargin

  /** MinHash(8 numeric permutations)+LSH(2 bands × 4 rows) candidate pairs
    * with n-gram Jaccard verification — the banded equi-join scale path:
    * one md5 pass per shingle, integer permutation mins, pairs join on
    * ids only (shingle sets re-join after dedup, never ride the explode). */
  def x06_dedup_minhash_lsh(spark: SparkSession, dir: String): DataFrame = {
    // small single-file scans must still parallelize: spread the signature
    // pipeline over the cluster before the (md5-heavy) per-row work. The
    // cached frame is SLIM — ids + band keys only (columnar cache buffers
    // for per-doc shingle arrays cost more to build than the signature
    // pipeline costs to run); shingle sets are recomputed post-join for
    // the candidate docs only, exactly like x14
    val docs = documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"))
    val banded = docs
      .select(col("doc_id"),
        DedupOps.bandKeysFromSigArray(
          DedupOps.minhashSignatureArray(
            DedupOps.hashedShinglesOf(TextOps.tokens(col("text")), 3)),
          rowsPerBand = 4, nBands = 2).as("bands"))
      .cache()
    // pairs is REFERENCED three times downstream (final join + both cohort
    // projections of candIds) — materialize it eagerly (it is tiny: id
    // pairs only, the survivors of the band buckets), then drop the fat
    // banded cache before the verification pass. At 100 TB this is the
    // difference between holding band keys for the whole corpus in memory
    // through verification and holding only the candidate set.
    val pairs = DedupOps.lshCandidatePairs(banded, "doc_id", "bands").cache()
    pairs.count()
    banded.unpersist()
    val candIds = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // candSh feeds both sides of the final join — cache so the candidate
    // shingle sets (md5-heavy) compute once, not once per join side
    val candSh = docs.join(broadcast(candIds), Seq("doc_id"))
      .select(col("doc_id"), DedupOps.shingles(col("text"), 3).as("sh"))
      .cache()
    // materialize the (small: candidate pairs only) result, then free the
    // internal caches — a library caller composing this operator must not
    // inherit its working-set storage
    val res = pairs
      .join(candSh.toDF("doc_a", "sh_a"), "doc_a")
      .join(candSh.toDF("doc_b", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        DedupOps.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .localCheckpoint(true)
    pairs.unpersist()
    candSh.unpersist()
    res
  }

  /** CTE chain (no leading WITH) ending in `sig(doc_id, sig0..sig7)` —
    * shingles → hashes → minhash signature in DuckDB SQL, the shared
    * prefix of every LSH oracle (x06/x15/x90 via [[lshScoredCtes]], the
    * x98 S-curve directly). */
  private lazy val lshSigCtes: String = {
    val sigDefs = DedupOps.DefaultPerms.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % 2147483647)) AS sig$i"
    }.mkString(",\n      ")
    s"""words AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(len(ws) - 2, 1)),
       |    i -> array_to_string(ws[i:i+2], ' '))) AS sh
       |  FROM words),
       |h AS (
       |  SELECT doc_id, list_transform(sh,
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |      $sigDefs
       |  FROM h)""".stripMargin
  }

  /** Band rows for one (rowsPerBand, nBands) config over `sig` — the
    * SQL twin of [[DedupOps.bandKeysFromSigArray]]'s key construction. */
  private def lshBandRowsSql(r: Int, b: Int): String =
    (0 until b).map { i =>
      // explicit VARCHAR casts: a single-column band has no '||' to
      // coerce the BIGINT, and md5 is VARCHAR-only in DuckDB
      val cols = (r * i until r * i + r)
        .map(j => s"CAST(sig$j AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $i AS band_idx, md5($cols) AS band_key FROM sig"
    }.mkString("\n      UNION ALL ")

  /** CTE chain (no leading WITH) ending in `scored(doc_a, doc_b, jaccard)`
    * — the LSH candidate + verification pipeline in DuckDB SQL, shared by
    * the x06 and x15 oracles. */
  private lazy val lshScoredCtes: String = {
    s"""$lshSigCtes,
       |bands AS (
       |      ${lshBandRowsSql(4, 2)}),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_key = b.band_key AND a.band_idx = b.band_idx AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
       |    CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS DOUBLE) AS jaccard
       |  FROM pairs p
       |  JOIN sh x ON x.doc_id = p.doc_a
       |  JOIN sh y ON y.doc_id = p.doc_b)""".stripMargin
  }

  val x06Oracle: String =
    s"WITH $lshScoredCtes\nSELECT doc_a, doc_b, jaccard FROM scored"

  /** SimHash (8-bit, md5-derived token hashes) per document. */
  def x07_dedup_simhash(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).select(
      col("doc_id"),
      DedupOps.simhash(col("text"), 8).as("simhash8"))

  val x07Oracle: String = {
    val bitSums = (0 until 8).map(b =>
      s"""list_sum(list_transform(list_distinct(string_split_regex(text,'\\s+')),
         |    w -> CASE WHEN (CAST(('0x'||substr(md5(w),1,15)) AS BIGINT) >> $b) & 1 = 1
         |              THEN 1 ELSE -1 END)) AS s$b""".stripMargin).mkString(",\n  ")
    val sig = (0 until 8).map(b => s"CASE WHEN s$b >= 0 THEN ${1 << b} ELSE 0 END").mkString(" + ")
    s"""WITH sums AS (
       |  SELECT doc_id,
       |  $bitSums
       |  FROM documents)
       |SELECT doc_id, CAST($sig AS INT) AS simhash8 FROM sums""".stripMargin
  }

  // ---------------------------------------------------------------- similarity
  /** Embedding near-dup pairs blocked on a corpus-scaled sign-LSH bucket —
    * NOT the semantic `label` column: bounded-cardinality blocks grow
    * membership O(n) and pair work O(n²) at scale. The bucket is the low
    * `log2(Blocking.powTwoModulus(ceil(n/256)))` bits of a 16-plane
    * md5-derived signature, so the oracle reproduces the exact blocks and
    * total pair work grows linearly with the corpus (see
    * [[graft.sim.SimilarityOps.nearDupPairsLsh]]). Exact-integer
    * quantized cosine — bit-reproducible across engines. */
  def x08_embedding_near_dup(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.nearDupPairsLsh(
      embeddings(spark, dir).repartition(spark.sparkContext.defaultParallelism),
      "vec_id", "embedding", 0.3)

  val x08Oracle: String = {
    val mod = graft.dedup.Blocking.powTwoModulusSql("(SELECT nb FROM nbf)", 16)
    s"""WITH nbf AS (
      |  SELECT GREATEST(1, CAST(ceil(COUNT(*) / 256.0) AS BIGINT)) AS nb FROM embeddings),
      |hp AS (
      |  SELECT b, list_transform(generate_series(0, 63), i ->
      |    CAST(('0x' || substr(md5(b || '|' || i), 1, 15)) AS BIGINT) % 2001 - 1000) AS h
      |  FROM generate_series(0, 15) t(b)),
      |q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS n2
      |  FROM q),
      |bkt AS (
      |  SELECT vec_id, qv, n2,
      |    CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> qv[i] * h[i])) >= 0
      |             THEN 1 << b ELSE 0 END) AS BIGINT) % ($mod) AS bucket
      |  FROM n CROSS JOIN hp GROUP BY vec_id, qv, n2)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
      |FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |WHERE CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) > 0.3""".stripMargin
  }

  /** Brute-force cosine top-k (the ANN correctness baseline): first 10
    * vectors as queries, k=5, deterministic (score desc, id asc) ranking. */
  def x09_knn_bruteforce(spark: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(spark, dir).repartition(spark.sparkContext.defaultParallelism)
    SimilarityOps.knnBruteForce(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", 5)
  }

  val x09Oracle: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS n2
      |  FROM q),
      |scored AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
      |  FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
      |SELECT query_id, neighbor_id, rank, cosine FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin

  // ---------------------------------------------------------------- multimodal
  /** Multimodal plumbing: binary payload + typed metadata through the stub
    * decode (expression twin of the mapPartitions path — see
    * [[graft.multimodal.MultimodalOps]]; equivalence is spec-tested). */
  def x10_multimodal_meta(spark: SparkSession, dir: String): DataFrame = {
    val mt = when(col("doc_id") % 3 === 0, "image")
      .when(col("doc_id") % 3 === 1, "audio").otherwise("video")
    val payloadHex = md5(col("text"))
    val metaCols = MultimodalOps.stubMetaColumns(payloadHex, col("media_type"))
      .map { case (n, c) => c.as(n) }
    documents(spark, dir)
      .select(col("doc_id").as("media_id"), mt.as("media_type"), payloadHex.as("payload_hex"), col("text"))
      .select(col("media_id") +: col("media_type") +: metaCols :+
        size(MultimodalOps.frameSamplePlan(
          MultimodalOps.stubMetaColumns(col("payload_hex"), col("media_type"))(2)._2, 4))
          .as("n_sampled_frames"): _*)
  }

  val x10Oracle: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
      |    md5(text) AS h
      |  FROM documents),
      |meta AS (
      |  SELECT media_id, media_type,
      |    CAST(('0x'||substr(h,1,2)) AS INT) * 16 + 64 AS width,
      |    CAST(('0x'||substr(h,3,2)) AS INT) * 16 + 64 AS height,
      |    CASE WHEN media_type = 'video' THEN CAST(('0x'||substr(h,5,2)) AS INT) + 1 ELSE 1 END AS n_frames,
      |    CASE WHEN media_type = 'audio' THEN 8000 + CAST(('0x'||substr(h,7,2)) AS INT) * 128 ELSE 0 END AS sample_rate
      |  FROM m)
      |SELECT media_id, media_type, width, height, n_frames, sample_rate,
      |  CAST(len(range(0, n_frames, 4)) AS INT) AS n_sampled_frames
      |FROM meta""".stripMargin

  /** Soft-dedup sampling weights — the gentler alternative to x05's hard
    * dedup when near-identical documents still carry signal: every copy
    * survives, but each is weighted 1/|dup group| on the x05 content key
    * so a 40-copy boilerplate page contributes ONE document's worth of
    * gradient mass, not forty. The weight a sampler multiplies into its
    * draw probability (or a loss scaler applies per example).
    * Scale shape: one partial-combining count per content key, joined
    * back key-to-key; weight mass per group sums to exactly 1 by
    * construction, so total corpus mass = |groups| — auditable
    * downstream with one aggregate. */
  def x81_softdedup_weights(spark: SparkSession, dir: String): DataFrame = {
    val key = md5(concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)))
    val d = documents(spark, dir).select(col("doc_id"), key.as("dup_key"))
    val groups = d.groupBy(col("dup_key")).agg(count(lit(1)).as("group_size"))
    d.join(groups, Seq("dup_key"))
      .select(col("doc_id"), col("dup_key"),
        col("group_size"),
        (lit(1.0) / col("group_size").cast(DoubleType)).as("weight"))
  }

  val x81Oracle: String =
    """WITH k AS (
      |  SELECT doc_id,
      |    md5(array_to_string((string_split_regex(text, '\s+'))[1:5], ' ')) AS dup_key
      |  FROM documents),
      |g AS (SELECT dup_key, COUNT(*) AS group_size FROM k GROUP BY dup_key)
      |SELECT k.doc_id, k.dup_key, g.group_size,
      |  1.0 / CAST(g.group_size AS DOUBLE) AS weight
      |FROM k JOIN g ON k.dup_key = g.dup_key""".stripMargin

  /** Vision-token budget — the multimodal sibling of x67's text budget:
    * per visual media item, the ViT patch count (ceil(w/14)·ceil(h/14),
    * the standard 14-px patch grid) times the sampled frame count from
    * x10's stride-4 frame plan = the "vision tokens" a multimodal
    * training batch is actually costed on. Audio is excluded (costed in
    * samples, not patches). Pure integer arithmetic over the x10
    * metadata — composition, no new decode.
    * Scale shape: narrow row-wise arithmetic on x10's map-only frame —
    * zero additional exchanges at any corpus size. */
  def x80_vision_token_budget(spark: SparkSession, dir: String): DataFrame = {
    val patches =
      call_function("div", col("width").cast(LongType) + 13L, lit(14L)) *
        call_function("div", col("height").cast(LongType) + 13L, lit(14L))
    x10_multimodal_meta(spark, dir)
      .filter(col("media_type") =!= "audio")
      .withColumn("patches", patches)
      .withColumn("vision_tokens",
        col("patches") * col("n_sampled_frames").cast(LongType))
      .select(col("media_id"), col("media_type"), col("width"), col("height"),
        col("n_sampled_frames"), col("patches"), col("vision_tokens"))
  }

  val x80Oracle: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
      |    md5(text) AS h
      |  FROM documents),
      |meta AS (
      |  SELECT media_id, media_type,
      |    CAST(('0x'||substr(h,1,2)) AS INT) * 16 + 64 AS width,
      |    CAST(('0x'||substr(h,3,2)) AS INT) * 16 + 64 AS height,
      |    CASE WHEN media_type = 'video' THEN CAST(('0x'||substr(h,5,2)) AS INT) + 1 ELSE 1 END AS n_frames
      |  FROM m),
      |sel AS (
      |  SELECT media_id, media_type, width, height,
      |    CAST(len(range(0, n_frames, 4)) AS INT) AS n_sampled_frames
      |  FROM meta WHERE media_type <> 'audio')
      |SELECT media_id, media_type, width, height, n_sampled_frames,
      |  CAST(((width + 13) // 14) * ((height + 13) // 14) AS BIGINT) AS patches,
      |  CAST(((width + 13) // 14) * ((height + 13) // 14) * n_sampled_frames AS BIGINT) AS vision_tokens
      |FROM sel""".stripMargin

  /** Audio-token budget — x80's sibling on the audio plane: per audio
    * item, the encoder-token count a Whisper-style pipeline pays
    * (Radford et al. 2022, public): 10 ms-hop mel frames over the clip
    * duration, halved by the 2× convolutional downsampling. Duration
    * derives deterministically from payload bytes 4–5 (the x10/x80
    * stub-metadata convention — the decode itself is the documented
    * environment-blocked stub; the ACCOUNTING is the real operator).
    * Everything is integer arithmetic (ceil via (n+d−1)/d), so the
    * oracle replays bit-for-bit. Scale shape: one narrow codegen'd
    * projection over the metadata scan, zero exchanges. */
  def x86_audio_token_budget(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(col("text"))
    val padded = rpad(h, 12, "0")
    def ub(i: Int) =
      conv(substring(padded, 2 * i + 1, 2), 16, 10).cast(LongType)
    documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(3L)) === 1)
      .select(col("doc_id").as("media_id"),
        (lit(8000L) + ub(3) * 128L).as("sample_rate"),
        (ub(4) * 256L + ub(5) + 200L).as("duration_ms"))
      .withColumn("n_samples",
        call_function("div", col("duration_ms") * col("sample_rate"), lit(1000L)))
      .withColumn("n_mel_frames",
        call_function("div", col("duration_ms") + 9L, lit(10L)))
      .withColumn("audio_tokens",
        call_function("div", col("n_mel_frames") + 1L, lit(2L)))
  }

  val x86Oracle: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id, md5(text) AS h
      |  FROM documents WHERE doc_id % 3 = 1),
      |meta AS (
      |  SELECT media_id,
      |    8000 + CAST(('0x'||substr(h,7,2)) AS BIGINT) * 128 AS sample_rate,
      |    CAST(('0x'||substr(h,9,2)) AS BIGINT) * 256
      |      + CAST(('0x'||substr(h,11,2)) AS BIGINT) + 200 AS duration_ms
      |  FROM m)
      |SELECT media_id, sample_rate, duration_ms,
      |  CAST(duration_ms * sample_rate // 1000 AS BIGINT) AS n_samples,
      |  CAST((duration_ms + 9) // 10 AS BIGINT) AS n_mel_frames,
      |  CAST(((duration_ms + 9) // 10 + 1) // 2 AS BIGINT) AS audio_tokens
      |FROM meta""".stripMargin

  /** Shard MANIFEST with content fingerprints — the reproducibility
    * artifact a trainer validates before a run: per x83 subword shard,
    * its document count, token mass, id range, and an ORDER-BLIND
    * membership fingerprint (bit_xor of per-doc md5-derived 60-bit
    * hashes). XOR is commutative/associative with constant state, so
    * the fingerprint partial-combines map-side and two manifests can be
    * diffed shard-by-shard without touching data — at 100 TB the
    * "did anything change since the last run" check is 16 rows, not a
    * corpus scan. (A sorted string_agg fingerprint would need the whole
    * shard's ids in one task — the x59-class trap this avoids.)
    * Scale shape: rides x83 (one corpus tokenize via x67's staged
    * encode), then ONE partial-combining aggregate on the 16-value
    * shard key. */
  def x88_shard_manifest(spark: SparkSession, dir: String): DataFrame = {
    val shards = x83_subword_shards(spark, dir)
      .withColumn("fp", conv(substring(
        md5(col("doc_id").cast(StringType)), 1, 15), 16, 10).cast(LongType))
    shards.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe_tokens")).as("n_tokens"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        expr("bit_xor(fp)").as("fingerprint"))
  }

  val x88Oracle: String =
    "WITH RECURSIVE " + subwordPerDocCtes + ",\n" +
    """sized AS (
      |  SELECT d.doc_id, p.n_bpe_tokens AS n_tokens
      |  FROM documents d JOIN per p ON d.doc_id = p.doc_id),
      |r AS (
      |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rn
      |  FROM sized),
      |sh AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(CASE WHEN (rn // 16) % 2 = 0 THEN rn % 16
      |         ELSE 15 - rn % 16 END AS INT) AS shard,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS fp
      |  FROM r)
      |SELECT shard, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
      |  bit_xor(fp) AS fingerprint
      |FROM sh
      |GROUP BY shard""".stripMargin

  /** Training CURRICULUM schedule — the global data-loading order a
    * curriculum run feeds the loader: documents grouped into 4 quality
    * stages (x60's per-source percentile, so no source dominates a
    * stage), highest-quality stage first, DETERMINISTICALLY shuffled
    * within each stage (the x34 md5-draw convention), and assigned one
    * global `train_pos`. Composes three pinned primitives into the
    * artifact trainers actually consume.
    * Scale shape: the per-source percentile is x60's banded two-phase
    * rank; the global position is the x34 machinery over an
    * order-ALIGNED bucket (stage ‖ hash prefix — a prefix of the sort
    * key itself, so buckets are monotone): every sort task is
    * bucket-sized, offsets broadcast, never a partition-less corpus
    * window. */
  def x92_curriculum_schedule(spark: SparkSession, dir: String): DataFrame = {
    val pct = x60_quality_calibration(spark, dir)
      .select(col("doc_id"), col("source"), col("pct"))
    val staged = pct
      .withColumn("stage",
        (lit(3L) - least(lit(3L), floor(col("pct") * 4)))
          .cast(IntegerType))
      .withColumn("hx",
        md5(concat(lit("x92|"), col("doc_id").cast(StringType))))
      .withColumn("__graft_bucket",
        concat(col("stage").cast(StringType), lit("|"),
          substring(col("hx"), 1, 2)))
      .withColumn("__graft_one", lit(1L))
    graft.text.CorpusOps.twoPhasePrefixSum(staged, Seq.empty,
        "__graft_bucket", Seq("hx", "doc_id"), "__graft_one", "__graft_rank")
      .select(col("doc_id"), col("source"), col("pct"),
        col("stage"), (col("__graft_rank") - 1L).as("train_pos"))
  }

  val x92Oracle: String =
    """WITH r AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, source,
      |    CAST(rk AS DOUBLE) / CAST(n AS DOUBLE) AS pct,
      |    CAST(3 - least(3, floor(CAST(rk AS DOUBLE) / CAST(n AS DOUBLE) * 4))
      |      AS INT) AS stage,
      |    md5('x92|' || CAST(doc_id AS VARCHAR)) AS hx
      |  FROM r)
      |SELECT doc_id, source, pct, stage,
      |  CAST(row_number() OVER (ORDER BY stage, hx, doc_id) - 1 AS BIGINT)
      |    AS train_pos
      |FROM st""".stripMargin

  /** Vocabulary DRIFT between corpus snapshots — the tokenizer-
    * maintenance signal: when enough token mass moves (new tokens
    * appear, old ones vanish, frequencies shift), the learned BPE
    * (x55/x84) is stale and fertility (x78) degrades silently. Uses
    * x40's generation convention (old = ids ≢7 mod 10; new = ids ≢3
    * with the " rev2" revision suffix on ids ≡0 mod 5) so the drift is
    * deterministic and oracle-replayable. Emits the per-word ledger
    * (added / dropped / shifted / stable + frequency ratio).
    * Scale shape: two map-side-combining vocabulary aggregates and ONE
    * vocabulary-sized full-outer join on the word — the corpus is read
    * twice narrowly, never shuffled at token granularity. */
  def x91_vocab_drift(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Bpe
    val d = documents(spark, dir)
    val oldDocs = d.filter(pmod(col("doc_id"), lit(10L)) =!= 7)
      .select(col("text"))
    val newDocs = d.filter(pmod(col("doc_id"), lit(10L)) =!= 3)
      .select(when(pmod(col("doc_id"), lit(5L)) === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")).as("text"))
    val wfOld = Bpe.wordFrequency(oldDocs).withColumnRenamed("wf", "wf_old")
    val wfNew = Bpe.wordFrequency(newDocs).withColumnRenamed("wf", "wf_new")
    wfOld.join(wfNew, Seq("w"), "full_outer")
      .select(col("w"),
        coalesce(col("wf_old"), lit(0L)).as("wf_old"),
        coalesce(col("wf_new"), lit(0L)).as("wf_new"))
      .withColumn("status",
        when(col("wf_old") === 0, lit("added"))
          .when(col("wf_new") === 0, lit("dropped"))
          .when(col("wf_old") =!= col("wf_new"), lit("shifted"))
          .otherwise(lit("stable")))
      .withColumn("ratio",
        when(col("wf_old") === 0, lit(null).cast(DoubleType))
          .otherwise(col("wf_new").cast(DoubleType) /
            col("wf_old").cast(DoubleType)))
  }

  val x91Oracle: String =
    """WITH oldd AS (
      |  SELECT text FROM documents WHERE doc_id % 10 <> 7),
      |newd AS (
      |  SELECT CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 10 <> 3),
      |wo AS (
      |  SELECT w, COUNT(*) AS wf_old FROM (
      |    SELECT unnest(string_split_regex(text, '\s+')) AS w FROM oldd)
      |  WHERE w <> '' AND NOT contains(w, chr(31)) GROUP BY w),
      |wn AS (
      |  SELECT w, COUNT(*) AS wf_new FROM (
      |    SELECT unnest(string_split_regex(text, '\s+')) AS w FROM newd)
      |  WHERE w <> '' AND NOT contains(w, chr(31)) GROUP BY w),
      |j AS (
      |  SELECT coalesce(wo.w, wn.w) AS w,
      |    coalesce(wf_old, 0) AS wf_old, coalesce(wf_new, 0) AS wf_new
      |  FROM wo FULL OUTER JOIN wn ON wo.w = wn.w)
      |SELECT w, CAST(wf_old AS BIGINT) AS wf_old,
      |  CAST(wf_new AS BIGINT) AS wf_new,
      |  CASE WHEN wf_old = 0 THEN 'added' WHEN wf_new = 0 THEN 'dropped'
      |       WHEN wf_old <> wf_new THEN 'shifted' ELSE 'stable' END AS status,
      |  CASE WHEN wf_old = 0 THEN NULL
      |       ELSE CAST(wf_new AS DOUBLE) / wf_old END AS ratio
      |FROM j""".stripMargin

  /** Dedup THRESHOLD sensitivity sweep — the tuning artifact a curation
    * run files before committing to a jaccard cutoff: per candidate
    * threshold, how many near-dup pairs fire, how many documents the
    * keep-lowest-id rule removes (doc removed iff some smaller-id
    * partner ties it at ≥ t — x33's survivor convention without the
    * component closure, exact for the greedy rule and oracle-replayable
    * without iteration), and how much token mass goes with them.
    * Fourth consumer of [[stagedLshScoredPairs]]: candidate-sized ×
    * |thresholds| work, never a corpus rescan; a threshold that fires
    * nothing still reports zeros (anchored on the threshold list).
    * Scale shape: pair × threshold explode (candidate-sized), a
    * distinct (t, doc) projection, one join to per-doc token counts,
    * partial-combining rollups. */
  def x90_dedup_threshold_sweep(spark: SparkSession, dir: String): DataFrame = {
    val ts = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
    val fired = stagedLshScoredPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(array(ts.map(lit): _*)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
    val nPairs = fired.groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"))
    val toks = documents(spark, dir).select(col("doc_id"),
      TextOps.tokenCount(col("text")).cast(LongType).as("n_tokens"))
    val removedStats = fired
      .select(col("threshold"), col("doc_b").as("doc_id")).distinct()
      .join(toks, Seq("doc_id"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_removed"),
        sum(col("n_tokens")).as("tokens_removed"))
    val anchor = spark.range(1)
      .select(explode(array(ts.map(lit): _*)).as("threshold"))
    anchor
      .join(nPairs, Seq("threshold"), "left")
      .join(removedStats, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"))
  }

  val x90Oracle: String =
    s"""WITH $lshScoredCtes,
       |th(threshold) AS (SELECT * FROM (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)) v(t)),
       |fired AS (
       |  SELECT t.threshold, s.doc_a, s.doc_b
       |  FROM scored s JOIN th t ON s.jaccard >= t.threshold),
       |np AS (SELECT threshold, COUNT(*) AS n_pairs FROM fired GROUP BY threshold),
       |rem AS (SELECT DISTINCT threshold, doc_b AS doc_id FROM fired),
       |tok AS (
       |  SELECT doc_id,
       |    CASE WHEN length(text) = 0 THEN 0
       |         ELSE len(string_split_regex(text, '\\s+')) END AS n_tokens
       |  FROM documents),
       |rs AS (
       |  SELECT r.threshold, COUNT(*) AS n_removed,
       |    SUM(t.n_tokens) AS tokens_removed
       |  FROM rem r JOIN tok t ON r.doc_id = t.doc_id GROUP BY r.threshold)
       |SELECT th.threshold,
       |  CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(coalesce(rs.n_removed, 0) AS BIGINT) AS n_removed,
       |  CAST(coalesce(rs.tokens_removed, 0) AS BIGINT) AS tokens_removed
       |FROM th
       |LEFT JOIN np ON th.threshold = np.threshold
       |LEFT JOIN rs ON th.threshold = rs.threshold""".stripMargin

  /** Unicode NFC normalization ([[graft.functions.NfcNormalize]], a
    * codegen'd native expression — Spark has no normalizer built-in and
    * a UDF would leave whole-stage codegen) — the canonicalization a
    * text pipeline runs BEFORE any content key: composed `é` (U+00E9)
    * and decomposed `e`+U+0301 render identically but hash differently,
    * so un-normalized corpora under-deduplicate and split vocabulary
    * statistics across byte-variant spellings. The testdata is ASCII,
    * so a deterministic suffix routes each doc through the
    * already-normalized fast path, the decomposed-fix path, or the
    * untouched path; the DuckDB oracle replays via `nfc_normalize`.
    * Scale shape: one narrow codegen'd projection, zero exchanges. */
  def x89_unicode_normalize(spark: SparkSession, dir: String): DataFrame = {
    // %3==0: COMPOSED e-acute U+00E9 (already NFC — the no-copy fast
    // path); %3==1: DECOMPOSED e + combining acute U+0301 (recomposed)
    val suffix = when(pmod(col("doc_id"), lit(3L)) === 0, lit(" café"))
      .when(pmod(col("doc_id"), lit(3L)) === 1, lit(" café"))
      .otherwise(lit(""))
    val messy = concat(col("text"), suffix)
    documents(spark, dir)
      .select(col("doc_id"), messy.as("raw"),
        graft.functions.NativeFunctions.nfc(messy).as("norm"))
      .select(col("doc_id"),
        (col("raw") =!= col("norm")).as("changed"),
        length(col("raw")).cast(LongType).as("n_chars_raw"),
        length(col("norm")).cast(LongType).as("n_chars_norm"),
        col("norm").as("text_norm"))
  }

  val x89Oracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    text || CASE WHEN doc_id % 3 = 0 THEN ' café'
      |                 WHEN doc_id % 3 = 1 THEN ' café'
      |                 ELSE '' END AS raw
      |  FROM documents)
      |SELECT doc_id,
      |  nfc_normalize(raw) <> raw AS changed,
      |  CAST(length(raw) AS BIGINT) AS n_chars_raw,
      |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_chars_norm,
      |  nfc_normalize(raw) AS text_norm
      |FROM m""".stripMargin

  /** PII incidence per registered domain — the governance audit a
    * compliance team actually files: x27's PII detectors (email / IP /
    * card / phone) rolled up at the PUBLIC-SUFFIX-AWARE domain key
    * (x63's [[graft.text.UrlOps.registeredDomain]]), so `a.co.uk` and
    * `b.co.uk` report separately and one hosting platform's subdomains
    * ride their private-section rule. The per-domain rate is what
    * drives crawl-policy decisions (drop, scrub-only, allow).
    * Scale shape: the detectors are codegen'd `rlike` flags fused into
    * the scan (narrow — the scrub itself is x27's job); one
    * partial-combining aggregate on the domain key; no joins. */
  def x87_pii_domain_audit(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.UrlOps
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val card = "\\b[0-9]{13,16}\\b"
    val phone = "\\+?[0-9][0-9 ()-]{6,18}[0-9]"
    val flagged = UrlOps.withRegisteredDomain(
      documents(spark, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
        .withColumn("url_raw", messyCrawlUrl),
      col("url_raw"), "domain")
      .withColumn("he", col("text").rlike(email))
      .withColumn("hi", col("text").rlike(ip))
      .withColumn("hc", col("text").rlike(card))
      .withColumn("hp", col("text").rlike(phone))
    flagged.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("he"), 1L).otherwise(0L)).as("n_email"),
        sum(when(col("hi"), 1L).otherwise(0L)).as("n_ip"),
        sum(when(col("hc"), 1L).otherwise(0L)).as("n_card"),
        sum(when(col("hp"), 1L).otherwise(0L)).as("n_phone"),
        sum(when(col("he") || col("hi") || col("hc") || col("hp"), 1L)
          .otherwise(0L)).as("n_any"))
      .withColumn("pii_rate",
        col("n_any").cast(DoubleType) / col("n_docs").cast(DoubleType))
  }

  val x87Oracle: String =
    "WITH " + pslCtesSql + ",\n" +
    """u AS (
      |  SELECT doc_id, text,
      |    """.stripMargin + messyCrawlUrlSql + " AS url_raw\n" +
    """  FROM documents),
      |p AS (
      |  SELECT doc_id, text,
      |    lower(regexp_extract(url_raw, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
      |    lower(regexp_extract(url_raw, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hp
      |  FROM u),
      |c AS (
      |  SELECT doc_id, text,
      |    regexp_replace(
      |      CASE WHEN sch = 'https' THEN regexp_replace(hp, ':443$', '')
      |           WHEN sch = 'http' THEN regexp_replace(hp, ':80$', '')
      |           ELSE hp END, '^www\.([^.]+\..+)', '\1') AS host
      |  FROM p),
      |dom AS (
      |  SELECT doc_id, text,
      |    """.stripMargin +
    pslFullDomainSql("host") + " AS domain\n" +
    """  FROM c),
      |f AS (
      |  SELECT domain,
      |    regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+') AS he,
      |    regexp_matches(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b') AS hi,
      |    regexp_matches(text, '\b[0-9]{13,16}\b') AS hc,
      |    regexp_matches(text, '\+?[0-9][0-9 ()-]{6,18}[0-9]') AS hp
      |  FROM dom)
      |SELECT domain, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN he THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
      |  CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS n_ip,
      |  CAST(SUM(CASE WHEN hc THEN 1 ELSE 0 END) AS BIGINT) AS n_card,
      |  CAST(SUM(CASE WHEN hp THEN 1 ELSE 0 END) AS BIGINT) AS n_phone,
      |  CAST(SUM(CASE WHEN he OR hi OR hc OR hp THEN 1 ELSE 0 END) AS BIGINT) AS n_any,
      |  CAST(SUM(CASE WHEN he OR hi OR hc OR hp THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS pii_rate
      |FROM f
      |GROUP BY domain""".stripMargin

  /** IVF (k-means coarse quantizer) ANN search — the scale path past
    * x09's brute force. Probing ALL cells makes IVF exact (every vector
    * lives in exactly one cell), so the quantizer build, cell assignment
    * and full-probe scoring are oracle-checked against the brute-force
    * SQL; the approximate nProbe < k mode (probe ranking, per-cell
    * candidate join) is spec-tested (SourcesAndIvfSpec). */
  def x11_ann_ivf(spark: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val model = graft.sim.IvfIndex.build(emb, "vec_id", "embedding", k = 16)
    graft.sim.IvfIndex.search(spark, model, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nProbe = 16)
  }

  /** Full-probe IVF ≡ brute-force top-k: same oracle shape as x09. */
  val x11Oracle: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS n2
      |  FROM q),
      |scored AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
      |  FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
      |SELECT query_id, neighbor_id, rank, cosine FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin

  /** Blocked all-pairs n-gram Jaccard: each doc's most-similar partner
    * inside its (lang, id-bucket) block — the standalone n-gram-Jaccard
    * dedup surface (x06 uses Jaccard only to verify LSH candidates).
    * Block-bounded pair generation is the 100 TB shape: the join shuffles
    * on the block key, never the cross product.
    *
    * The bucket count SCALES with the corpus — `ceil(n / 256)` — so each
    * (lang, bucket) block stays ~bounded as the corpus grows and total
    * candidate pairs grow LINEARLY with n (each block is O(targetBlock²)
    * pairs and there are n/targetBlock blocks). A fixed modulus would let
    * blocks grow with the corpus and pairs grow quadratically. The count
    * is one map-side-combining aggregate (a 1-row frame broadcast back),
    * reproducible in the oracle via COUNT(*) — the shared
    * [[graft.dedup.Blocking]] contract (also x18's simhash slice and
    * x08's LSH bucket). */
  def x12_ngram_jaccard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docsRaw = documents(spark, dir)
    val nb = graft.dedup.Blocking.scaledBucketCount(docsRaw, targetBlock = 256.0)
    // NO cache on the shingle frame: both join sides recompute it — two
    // narrow scans of the corpus instead of holding corpus-sized shingle
    // arrays in executor storage (the x06/x14 recompute-over-cache rule;
    // columnar buffers for per-doc arrays cost more to build than the
    // split+transform costs to run twice)
    val d = docsRaw
      .repartition(spark.sparkContext.defaultParallelism)
      .crossJoin(broadcast(nb))
      .select(col("doc_id"), col("lang"), (col("doc_id") % col("nb")).as("bucket"),
        DedupOps.shingles(col("text"), 2).as("sh"))
    val pairs = d.select(col("doc_id"), col("lang"), col("bucket"), col("sh"))
      .join(d.select(col("doc_id").as("partner_id"), col("lang").as("l2"),
          col("bucket").as("b2"), col("sh").as("sh2")),
        col("lang") === col("l2") && col("bucket") === col("b2") &&
          col("doc_id") =!= col("partner_id"))
      .withColumn("jaccard", DedupOps.jaccard(col("sh"), col("sh2")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("jaccard").desc, col("partner_id").asc)
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("partner_id").as("best_match"), col("jaccard"))
  }

  val x12Oracle: String =
    """WITH nb AS (
      |  SELECT GREATEST(1, CAST(ceil(COUNT(*) / 256.0) AS BIGINT)) AS nb FROM documents),
      |d AS (
      |  SELECT doc_id, lang, doc_id % (SELECT nb FROM nb) AS bucket,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(len(string_split_regex(text,'\s+')) - 1, 1)),
      |      i -> array_to_string((string_split_regex(text,'\s+'))[i:i+1], ' '))) AS sh
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id, b.doc_id AS partner_id,
      |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
      |  FROM d a JOIN d b
      |    ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id <> b.doc_id)
      |SELECT doc_id, partner_id AS best_match, jaccard FROM (
      |  SELECT doc_id, partner_id, jaccard,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, partner_id) AS rn
      |  FROM pairs)
      |WHERE rn = 1""".stripMargin

  /** LSH-bucketed ANN (random-hyperplane sign buckets) — the zero-training
    * alternative scale path beside IVF (x11). Hyperplanes are md5-derived,
    * so the oracle reproduces the exact buckets; recall < 1.0 is inherent
    * (both engines compute the identical approximate answer). `bits` is
    * left to the SELF-TUNING default: derived from the candidate count so
    * a bucket holds ~256 vectors (`Blocking.scaledBits`) — the oracle
    * derives the same plane count from COUNT(*). */
  def x13_knn_lsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    SimilarityOps.knnLsh(emb.filter(col("vec_id") < 40), emb,
      "vec_id", "embedding", k = 5, dim = 64)
  }

  val x13Oracle: String =
    s"""WITH nbits AS (
      |  SELECT (${graft.dedup.Blocking.scaledBitsSql("nb", 16)}) AS bits
      |  FROM (SELECT GREATEST(1, CAST(ceil(COUNT(*) / 256.0) AS BIGINT)) AS nb FROM embeddings)),
      |hp AS (
      |  SELECT b, list_transform(generate_series(0, 63), i ->
      |    CAST(('0x' || substr(md5(b || '|' || i), 1, 15)) AS BIGINT) % 2001 - 1000) AS h
      |  FROM generate_series(0, 15) t(b)
      |  WHERE b < (SELECT bits FROM nbits)),
      |q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS n2
      |  FROM q),
      |bkt AS (
      |  SELECT vec_id, qv, n2,
      |    CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> qv[i] * h[i])) >= 0
      |             THEN 1 << b ELSE 0 END) AS INT) AS bucket
      |  FROM n CROSS JOIN hp GROUP BY vec_id, qv, n2),
      |scored AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
      |  FROM bkt a JOIN bkt b
      |    ON a.bucket = b.bucket AND a.vec_id < 40 AND a.vec_id <> b.vec_id)
      |SELECT query_id, neighbor_id, rank, cosine FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin

  /** The composed cleaning pipeline — the end-to-end shape a training-data
    * corpus actually runs: language-ID + quality signals, exact dedup on
    * the normalized fingerprint (survivor = min id), MinHash+LSH near-dup
    * removal (drop the higher id of each high-Jaccard pair), then the
    * quality gate. Every stage is one of the already-gated operators;
    * this query checks their COMPOSITION end-to-end. */
  def x14_clean_corpus(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val docs = documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), t)
    // tokenize ONCE into a column (interpreted HOFs get no CSE), and
    // cache only the SLIM signal frame — columnar cache buffers for the
    // per-doc shingle arrays cost more to build than the whole signature
    // pipeline does to run; shingle sets are recomputed later for the few
    // candidate docs only (the 100 TB shape: never cache what a small
    // subset can recompute)
    val base = docs
      .select(col("doc_id"), t, TextOps.tokens(t).as("toks"))
      .select(col("doc_id"),
        TextOps.languageIdOf(col("toks")).as("lang_pred"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        TextOps.fingerprintMd5(t).as("fp"),
        DedupOps.bandKeysFromSigArray(
          DedupOps.minhashSignatureArray(
            DedupOps.hashedShinglesOf(col("toks"), 3)),
          rowsPerBand = 4, nBands = 2).as("bands"))
      .cache()
    val survivors = base.groupBy(col("fp")).agg(min(col("doc_id")).as("sid"))
    // pairs is REFERENCED twice downstream (the candIds broadcast build
    // and the verification join) — materialize it eagerly like x06 does
    // (it is tiny: id pairs only, the survivors of the band buckets), so
    // the band explode+bucket pipeline over the corpus runs once, not
    // once per consumer (r19; guide §5 cache tiny, recompute-heavy)
    val pairs = DedupOps
      .lshCandidatePairs(base.select("doc_id", "bands"), "doc_id", "bands")
      .cache()
    pairs.count()
    // shingles only for candidate docs: join docs to the (small) id set
    // FIRST, then compute the arrays post-join
    val candIds = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // candSh feeds both sides of the verification join — cache so the
    // candidate shingle sets compute once, not once per join side (the
    // x06 pattern; candidate-sized, freed before return)
    val candSh = docs.join(broadcast(candIds), Seq("doc_id"))
      .select(col("doc_id"), DedupOps.shingles(t, 3).as("sh"))
      .cache()
    val nearDupDrop = pairs
      .join(candSh.toDF("doc_a", "sh_a"), "doc_a")
      .join(candSh.toDF("doc_b", "sh_b"), "doc_b")
      .filter(DedupOps.jaccard(col("sh_a"), col("sh_b")) >= 0.6)
      .select(col("doc_b").as("drop_id")).distinct()
    // alias the survivor columns: `survivors` derives from `base`, so an
    // unaliased base("fp") === survivors("fp") resolves BOTH sides to the
    // same attribute (Spark warns "trivially true equals predicate") and
    // the written condition is not the executed one
    val surv = survivors.select(col("fp").as("s_fp"), col("sid"))
    // materialize the (slim: id + lang + count) result, then free the
    // signal cache — a library caller composing this operator must not
    // inherit its working-set storage
    // substring-removal step (x62's machinery, counts only): surviving
    // docs carry their POST-CLEAN token count, the number packing /
    // budget operators should consume — detection without removal is
    // half the Lee et al. pipeline
    val covN = graft.text.CorpusOps.dupCoveredCounts(docs, "doc_id", "text", n = 8)
    val res = base
      .join(surv, col("fp") === col("s_fp") &&
        col("doc_id") === col("sid"), "left_semi")
      .join(nearDupDrop, col("doc_id") === col("drop_id"), "left_anti")
      .filter(col("n_tokens") >= 5 &&
        col("n_distinct").cast(DoubleType) / col("n_tokens").cast(DoubleType) > 0.3)
      .join(covN, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_removed"), lit(0)))
          .as("n_tokens_clean"))
      .localCheckpoint(true)
    base.unpersist()
    pairs.unpersist()
    candSh.unpersist()
    res
  }

  val x14Oracle: String = {
    val sigDefs = DedupOps.DefaultPerms.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % 2147483647)) AS sig$i"
    }.mkString(",\n      ")
    val bandRows = (0 until 2).map { i =>
      val cols = (4 * i until 4 * i + 4).map(j => s"sig$j").mkString(" || '|' || ")
      s"SELECT doc_id, $i AS band_idx, md5($cols) AS band_key FROM sig"
    }.mkString("\n      UNION ALL ")
    def score(markers: Seq[String]) =
      s"len(list_filter(string_split_regex(text,'\\s+'), x -> x IN (${markers.map("'" + _ + "'").mkString(",")})))"
    val langs = TextOps.languageMarkers.keys.toSeq.sorted
    val best = s"greatest(${langs.map(l => s"s_$l").mkString(",")})"
    s"""WITH words AS (
       |  SELECT doc_id, text, string_split_regex(text, '\\s+') AS ws FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(len(ws) - 2, 1)),
       |    i -> array_to_string(ws[i:i+2], ' '))) AS sh
       |  FROM words),
       |h AS (
       |  SELECT doc_id, list_transform(sh,
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |      $sigDefs
       |  FROM h),
       |bands AS (
       |      $bandRows),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_key = b.band_key AND a.band_idx = b.band_idx AND a.doc_id < b.doc_id),
       |neardup AS (
       |  SELECT DISTINCT p.doc_b AS drop_id
       |  FROM pairs p
       |  JOIN sh x ON x.doc_id = p.doc_a
       |  JOIN sh y ON y.doc_id = p.doc_b
       |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
       |        CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS DOUBLE) >= 0.6),
       |feats AS (
       |  SELECT doc_id, text,
       |    CASE WHEN length(text)=0 THEN 0 ELSE len(string_split_regex(text,'\\s+')) END AS nt,
       |    CASE WHEN length(text)=0 THEN 0 ELSE len(list_distinct(string_split_regex(text,'\\s+'))) END AS nd,
       |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
       |    ${langs.map(l => s"${score(TextOps.languageMarkers(l))} AS s_$l").mkString(", ")}
       |  FROM documents),
       |lang AS (
       |  SELECT doc_id, nt, nd, fp,
       |    CASE ${langs.map(l => s"WHEN $best > 0 AND s_$l = $best THEN '$l'").mkString(" ")}
       |         ELSE 'und' END AS lang_pred
       |  FROM feats),
       |surv AS (SELECT fp, min(doc_id) AS sid FROM lang GROUP BY fp),
       |u8 AS (
       |  SELECT doc_id, ws AS w, unnest(generate_series(1, len(ws) - 7)) AS i
       |  FROM words WHERE len(ws) >= 8),
       |g8 AS (SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS gram FROM u8),
       |cg8 AS (SELECT gram, COUNT(*) AS cnt FROM g8 GROUP BY gram),
       |ds8 AS (SELECT g8.doc_id, g8.i FROM g8 JOIN cg8 USING (gram) WHERE cnt > 1),
       |cov8 AS (
       |  SELECT DISTINCT doc_id, i + d AS pos FROM ds8 CROSS JOIN range(0, 8) s(d)),
       |cn8 AS (SELECT doc_id, COUNT(*) AS n_removed FROM cov8 GROUP BY doc_id)
       |SELECT l.doc_id, l.lang_pred, l.nt AS n_tokens,
       |  CAST(l.nt - coalesce(c.n_removed, 0) AS BIGINT) AS n_tokens_clean
       |FROM lang l
       |LEFT JOIN cn8 c ON c.doc_id = l.doc_id
       |JOIN surv s ON l.fp = s.fp AND l.doc_id = s.sid
       |WHERE l.doc_id NOT IN (SELECT drop_id FROM neardup)
       |  AND l.nt >= 5
       |  AND CAST(l.nd AS DOUBLE) / CAST(l.nt AS DOUBLE) > 0.3""".stripMargin
  }

  /** Transitive near-dup groups: connected components over the LSH pair
    * graph (jaccard ≥ 0.5) by min-label propagation — every document maps
    * to the smallest doc_id reachable through near-duplicate pairs
    * (isolated docs label themselves). The transitive-closure step real
    * fuzzy-dedup needs after x06: a near-dup relation is not transitive,
    * so survivors must be picked per component, not per pair. */
  def x15_dup_components(spark: SparkSession, dir: String): DataFrame = {
    val edges = x06_dedup_minhash_lsh(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    DedupOps.connectedComponents(
      edges, documents(spark, dir).select(col("doc_id")), "doc_id")
  }

  val x15Oracle: String =
    s"""WITH RECURSIVE $lshScoredCtes,
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM scored WHERE jaccard >= 0.5
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM scored WHERE jaccard >= 0.5),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s)
       |SELECT id AS doc_id, MIN(r) AS component_id FROM reach GROUP BY id""".stripMargin

  /** TF-IDF top-3 terms per document. Shape at scale: explode → one
    * map-side-combining count per (doc, term), one per term (the
    * vocabulary aggregate), corpus size broadcast as a 1-row frame (no
    * driver action), window top-k per doc. Scoring uses a RATIONAL idf,
    * (N+1)/(df+1) — a monotone transform of ln-idf, so rankings are
    * identical — because division/multiply are IEEE-exact-rounded and
    * thus bit-identical across engines, while Spark's `log`
    * (StrictMath/fdlibm) differs from DuckDB's `ln` (glibc) in the last
    * bit. */
  def x16_tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast(DoubleType) *
          ((col("n_docs").cast(DoubleType) + 1.0) / (col("df").cast(DoubleType) + 1.0)))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  val x16Oracle: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM terms WHERE term <> '' GROUP BY 1, 2),
      |df AS (
      |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(tf.tf AS DOUBLE) *
      |      ((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id,
      |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank,
      |  term, tf, df, tfidf
      |FROM scored
      |QUALIFY rank <= 3""".stripMargin

  /** Deterministic hash-based train/val/test split (90/5/5): the split a
    * training pipeline must reproduce run-over-run and engine-over-engine,
    * so the bucket is md5-derived from the id — never `rand()`. Narrow,
    * no shuffle. */
  def x17_train_test_split(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).select(
      col("doc_id"),
      (TextOps.stableHash64(col("doc_id").cast(StringType)) % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, lit("train"))
          .when(col("bucket") < 95, lit("val"))
          .otherwise(lit("test")))

  val x17Oracle: String =
    """SELECT doc_id,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
      |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
      |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents""".stripMargin

  /** Fuzzy near-dup via blocked edit distance — the SSIS Fuzzy
    * Grouping idiom re-expressed at scale. Never all-pairs: candidates
    * are generated inside (lang, length-band, simhash-slice) blocks —
    * one equi-join shuffle on the block key — and the distance is
    * Spark's bounded 3-arg `levenshtein` (banded DP: O(threshold·len)
    * per pair and early-exit above the bound, not O(len²)).
    *
    * The length band alone has NO corpus-size scaling (membership grows
    * O(n), pairs O(n²)), so the key is widened with a CORPUS-SCALED
    * simhash slice: `simhash16 % Blocking.powTwoModulus(ceil(n/256))` —
    * the low-bits modulus of a simhash IS a narrower simhash, so docs
    * within a small edit distance (few flipped signature bits) still
    * collide with high probability, and the slice widens as the corpus
    * grows, keeping block membership ~bounded (recall/cost knob:
    * Fuzzy Grouping's similarity-threshold analog; recall is measured
    * in FuzzyBlockingSpec). Count rides a broadcast 1-row frame,
    * reproducible in the oracle via COUNT(*) — the shared
    * [[graft.dedup.Blocking]] contract with x12/x08. */
  def x18_fuzzy_levenshtein(spark: SparkSession, dir: String): DataFrame = {
    val docsRaw = documents(spark, dir)
    val nbf = graft.dedup.Blocking.scaledBucketCount(docsRaw, targetBlock = 256.0)
    val b = docsRaw
      .crossJoin(broadcast(nbf))
      .select(
        col("doc_id"), col("lang"),
        substring(col("text"), 1, 80).as("p"),
        floor(length(col("text")) / 40).cast(LongType).as("blk"),
        // 16-bit signature: the single-pass simhash pays ONE md5 per
        // token regardless of width, and 8 bits caps the modulus at 256
        // blocks — a 20× scale probe hit that cap (nb=391 > 256) and the
        // slice stopped widening; 16 bits keeps headroom to 65k blocks
        (DedupOps.simhash(col("text"), 16).cast(LongType) %
          graft.dedup.Blocking.powTwoModulus(col("nb"), 16)).as("shs"))
    // ONE hash exchange on the block key materializes the signature
    // columns; both join sides read the SAME shuffle output
    // (ReuseExchange — the subtrees canonicalize equal), so the
    // md5-heavy simhash is computed once per doc, not once per join
    // side, and the join's pushed `isnotnull(shs)` filter stays below
    // the single exchange. This also replaces the previous
    // whole-corpus broadcast build side: shuffling BOTH sides on the
    // block key is the shape that survives 100× — a corpus doesn't
    // broadcast. The exchange doubles as the parallelism spreader the
    // r5 fix added (a small single-file scan is otherwise 1-2
    // partitions doing every DP evaluation).
    val sig = b.repartition(spark.sparkContext.defaultParallelism,
      col("lang"), col("blk"), col("shs"))
    val left = sig.select(col("doc_id").as("doc_a"), col("lang").as("lang_a"),
      col("p").as("p_a"), col("blk").as("blk_a"), col("shs").as("shs_a"))
    val right = sig.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
      col("p").as("p_b"), col("blk").as("blk_b"), col("shs").as("shs_b"))
    // equi-join on the block key ONLY; `doc_a < doc_b` leads the filter
    // conjunction so the pushed-down join condition short-circuits the
    // (expensive, banded-DP) levenshtein for the unordered half of every
    // block's pairs — conjunct order survives predicate pushdown, and
    // putting the ordering test inside the join condition instead would
    // get it appended AFTER the pushed levenshtein bound
    left.join(right,
        col("lang_a") === col("lang_b") && col("blk_a") === col("blk_b") &&
          col("shs_a") === col("shs_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("p_a"), col("p_b"), 20).cast(LongType).as("lev"))
      .filter(col("doc_a") < col("doc_b") && col("lev") >= 0)
  }

  val x18Oracle: String = {
    val bitSums = (0 until 16).map(b =>
      s"""list_sum(list_transform(list_distinct(string_split_regex(text,'\\s+')),
         |    w -> CASE WHEN (CAST(('0x'||substr(md5(w),1,15)) AS BIGINT) >> $b) & 1 = 1
         |              THEN 1 ELSE -1 END)) AS s$b""".stripMargin).mkString(",\n  ")
    val sig = (0 until 16).map(b => s"CASE WHEN s$b >= 0 THEN ${1 << b} ELSE 0 END").mkString(" + ")
    val mod = graft.dedup.Blocking.powTwoModulusSql("(SELECT nb FROM nbf)", 16)
    s"""WITH nbf AS (
       |  SELECT GREATEST(1, CAST(ceil(COUNT(*) / 256.0) AS BIGINT)) AS nb FROM documents),
       |sums AS (
       |  SELECT doc_id, lang, substr(text, 1, 80) AS p,
       |    CAST(floor(length(text) / 40) AS BIGINT) AS blk,
       |  $bitSums
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, lang, p, blk,
       |    CAST($sig AS BIGINT) % ($mod) AS shs
       |  FROM sums)
       |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |  CAST(levenshtein(a.p, c.p) AS BIGINT) AS lev
       |FROM b a JOIN b c
       |  ON a.lang = c.lang AND a.blk = c.blk AND a.shs = c.shs AND a.doc_id < c.doc_id
       |WHERE levenshtein(a.p, c.p) <= 20""".stripMargin
  }

  /** Stratified sampling — corpus rebalancing by language: the dominant
    * language is DOWN-sampled (en keeps 25%) while the long tail keeps
    * 75%, with membership decided by a salted md5 bucket of the doc id
    * (deterministic, reproducible, skew-free — NOT `sample()`, whose
    * per-partition RNG changes membership under repartitioning). The
    * salt decorrelates this draw from x17's train/val/test split: the
    * same doc must be able to land differently in independent draws.
    * Shape at 100 TB: a narrow filter over the scan — no shuffle, no
    * driver state, prunes to (doc_id, lang) via ReadSchema. */
  def x19_stratified_sample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(TextOps.stableHash64(
      concat(col("doc_id").cast(StringType), lit(":strat"))), lit(100))
    val keepPct = when(col("lang") === "en", lit(25)).otherwise(lit(75))
    documents(spark, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .filter(col("bucket") < keepPct)
  }

  val x19Oracle: String =
    """SELECT doc_id, lang,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 15)) AS BIGINT) % 100 AS bucket
      |FROM documents
      |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 15)) AS BIGINT) % 100
      |  < CASE WHEN lang = 'en' THEN 25 ELSE 75 END""".stripMargin

  /** Corpus n-gram statistics — the global top-20 bigrams by document
    * frequency-weighted count. Bigrams are materialized per document by
    * a narrow HOF over the token array (no self-join), explode feeds ONE
    * partial-combining count aggregate, and the top-k is an order+limit
    * (TakeOrdered at execution: per-partition heaps, never a global
    * sort of all distinct n-grams). Ties break on the bigram text so
    * the emitted set is deterministic on both engines. */
  def x20_ngram_stats(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(explode(TextOps.ngrams(col("toks"), 2)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(20)
  }

  val x20Oracle: String =
    """WITH ws AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      |bg AS (
      |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i + 1])) AS ngram
      |  FROM ws)
      |SELECT ngram, COUNT(*) AS n FROM bg
      |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin

  /** Benchmark decontamination — drop training documents whose
    * normalized content fingerprint appears in the held-out set (here:
    * everything from source `src0` plays the benchmark). The eval-side
    * fingerprint list is benchmark-sized — tiny next to the corpus — so
    * the anti-join broadcasts and the corpus never shuffles: the exact
    * shape a 100 TB decontamination pass needs (fingerprint once, scan
    * once, no corpus-wide exchange). */
  def x21_decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val fp = TextOps.fingerprintMd5(col("text"))
    val docs = documents(spark, dir)
      .select(col("doc_id"), col("source"), fp.as("fp"))
    val evalFps = docs.filter(col("source") === "src0")
      .select(col("fp").as("eval_fp")).distinct()
    docs.filter(col("source") =!= "src0")
      .join(broadcast(evalFps), col("fp") === col("eval_fp"), "left_anti")
      .select(col("doc_id"), col("source"))
  }

  val x21Oracle: String =
    """WITH f AS (
      |  SELECT doc_id, source,
      |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
      |  FROM documents)
      |SELECT doc_id, source FROM f
      |WHERE source <> 'src0'
      |  AND fp NOT IN (SELECT fp FROM f WHERE source = 'src0')""".stripMargin

  /** Repetition-based quality filtering (Gopher-style): the fraction of
    * the document owned by its single most frequent token, and the
    * duplicate-bigram fraction — both computed NARROWLY per row with
    * array HOFs over the tokenized column (no explode, no per-token
    * shuffle; at 100 TB the whole signal pass stays embarrassingly
    * parallel). `keep` applies the gate; signals are emitted so the gate
    * is auditable. Ratios divide in DOUBLE with identical operand order
    * on both engines.
    *
    * The top-token count is `array_sort` + ONE run-length fold — O(n log n)
    * per document, bounded by the sort. (The naive
    * `transform(array_distinct(toks), t -> size(filter(toks, …)))` form is
    * O(distinct × tokens) per row: ~10¹² comparisons on one core for a
    * 1M-token document. Same answer — see the equivalence property test in
    * TrainingDataSpec.) */
  def x22_repetition_filter(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val docs = documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(t).as("toks"))
      .select(col("doc_id"), col("toks"), TextOps.ngrams(col("toks"), 2).as("bg"))
    docs.select(
        col("doc_id"),
        (topTokenCount(col("toks"))
          .cast(DoubleType) / size(col("toks")).cast(DoubleType)).as("top_token_ratio"),
        when(size(col("bg")) > 0,
          lit(1.0) - size(array_distinct(col("bg"))).cast(DoubleType) /
            size(col("bg")).cast(DoubleType)).otherwise(lit(0.0)).as("dup_bigram_ratio"))
      .withColumn("keep",
        col("top_token_ratio") <= 0.2 && col("dup_bigram_ratio") <= 0.4)
  }

  /** Count of the single most frequent element of a string array, as a
    * sort + run-length fold: after `array_sort` equal tokens are adjacent,
    * so one `aggregate` pass tracking (previous, current-run, best-run)
    * yields the max multiplicity in O(n log n) — no distinct × tokens
    * blow-up. NULL for an empty array (matching `array_max` over an empty
    * transform in the naive form). */
  private[graft] def topTokenCount(toks: Column): Column =
    when(size(toks) === 0, lit(null).cast(LongType)).otherwise(
      aggregate(
        array_sort(toks),
        struct(lit(null).cast(StringType).as("prev"),
          lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(acc("prev") <=> x, acc("run") + lit(1L)).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc("best"), run).as("best"))
        },
        acc => acc("best")))

  val x22Oracle: String =
    """WITH b AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS w,
      |    list_transform(generate_series(1, len(string_split_regex(text, '\s+')) - 1),
      |      i -> string_split_regex(text, '\s+')[i] || ' ' || string_split_regex(text, '\s+')[i + 1]) AS bg
      |  FROM documents),
      |r AS (
      |  SELECT doc_id,
      |    CAST(list_max(list_transform(list_distinct(w), t -> len(list_filter(w, x -> x = t)))) AS DOUBLE)
      |      / CAST(len(w) AS DOUBLE) AS top_token_ratio,
      |    CASE WHEN len(bg) > 0
      |         THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / CAST(len(bg) AS DOUBLE)
      |         ELSE 0.0 END AS dup_bigram_ratio
      |  FROM b)
      |SELECT doc_id, top_token_ratio, dup_bigram_ratio,
      |  top_token_ratio <= 0.2 AND dup_bigram_ratio <= 0.4 AS keep
      |FROM r""".stripMargin

  /** K-means assignment step over the embedding corpus — the building
    * block of embedding-based clustering/curation (and of IVF index
    * training): each vector maps to its nearest per-`label` centroid by
    * cosine. Centroids are exact integer SUM vectors (cosine is
    * scale-invariant, so no float averaging anywhere — the x08/x09
    * bit-reproducibility contract); the k-row centroid frame broadcasts
    * into the scoring join, so the corpus fans out k ways and never
    * shuffles. With synthetic label-clustered embeddings most vectors
    * re-assign to their own label's centroid — the oracle checks the
    * exact assignment either way. */
  def x23_centroid_assign(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.centroidAssign(
      embeddings(spark, dir), "vec_id", "embedding", "label")

  val x23Oracle: String =
    """WITH q AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, label, qv,
      |    list_sum(list_transform(generate_series(1, 64), i -> qv[i] * qv[i])) AS qn2
      |  FROM q),
      |comp AS (
      |  SELECT label AS c_label, i.i AS pos, SUM(qv[i.i]) AS s
      |  FROM q, generate_series(1, 64) i(i)
      |  GROUP BY 1, 2),
      |cent AS (
      |  SELECT c_label, list(s ORDER BY pos) AS cv FROM comp GROUP BY c_label),
      |cn AS (
      |  SELECT c_label, cv,
      |    list_sum(list_transform(generate_series(1, 64), i -> cv[i] * cv[i])) AS cn2
      |  FROM cent),
      |scored AS (
      |  SELECT n.vec_id, n.label, cn.c_label,
      |    ROUND(CAST(list_sum(list_transform(generate_series(1, 64), i -> n.qv[i] * cn.cv[i])) AS DOUBLE)
      |      / (sqrt(CAST(n.qn2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE))), 6) AS cosine
      |  FROM n CROSS JOIN cn)
      |SELECT vec_id, label, c_label AS assigned_label, cosine
      |FROM scored
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, c_label) = 1""".stripMargin

  /** N-gram overlap decontamination — the stricter contamination test
    * x21's whole-document fingerprints miss: a training document is
    * contaminated if it shares ANY 5-gram with the held-out set (src0 as
    * the benchmark), even when the documents as wholes differ. Per-doc
    * distinct 5-grams come from a narrow HOF (no self-join); the
    * benchmark's gram set is benchmark-sized, so the probe is a
    * BROADCAST equi-join on the gram and the corpus never shuffles —
    * only the (small) per-doc overlap counts do, into one aggregate.
    * Emits every train doc with its overlap count so the gate threshold
    * is auditable downstream. */
  def x24_ngram_overlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        array_distinct(TextOps.ngrams(col("toks"), 5)).as("g5"))
    val evalGrams = docs.filter(col("source") === "src0")
      .select(explode(col("g5")).as("g")).distinct()
      .withColumn("__hit", lit(1))
    // ONE train-side scan: explode_outer keeps gram-less docs as a null-
    // gram row, the broadcast left join marks eval hits, and the
    // conditional count folds both into the per-doc overlap — no second
    // tokenization pass to re-attach zero-overlap docs
    docs.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("source"), explode_outer(col("g5")).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_outer")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
      .select(col("doc_id"), col("source"), col("n_overlap"), col("contaminated"))
  }

  val x24Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, source, string_split_regex(text, '\s+') AS w FROM documents),
      |g AS (
      |  SELECT doc_id, source, list_distinct(list_transform(
      |    generate_series(1, len(w) - 4), i -> array_to_string(w[i:i+4], ' '))) AS g5
      |  FROM t),
      |ev AS (SELECT DISTINCT unnest(g5) AS gram FROM g WHERE source = 'src0'),
      |tr AS (SELECT doc_id, unnest(g5) AS gram FROM g WHERE source <> 'src0'),
      |ov AS (
      |  SELECT doc_id, COUNT(*) AS n_overlap
      |  FROM tr JOIN ev USING (gram) GROUP BY doc_id)
      |SELECT d.doc_id, d.source,
      |  COALESCE(ov.n_overlap, 0) AS n_overlap,
      |  COALESCE(ov.n_overlap, 0) > 0 AS contaminated
      |FROM (SELECT doc_id, source FROM documents WHERE source <> 'src0') d
      |LEFT JOIN ov USING (doc_id)""".stripMargin

  /** Per-source quota sampling — the data-mixing cap a corpus recipe
    * applies per provenance bucket ("at most N documents per source"):
    * a deterministic reservoir, taking each source's N smallest salted
    * md5 draws. Membership is reproducible across engines and runs (same
    * contract as x17/x19 — never `sample()`).
    *
    * TWO-PHASE at scale. A bare `Window.partitionBy(source)` would
    * shuffle the WHOLE corpus on a low-cardinality key and fully sort
    * each source in one task (Spark's WindowExec sorts the entire
    * partition — there is no N-row-heap shortcut): at 100 TB with ~10
    * sources that is 10 tasks sorting ~10 TB each. Instead:
    *  1. one map-side-combining count per source (a |sources|-row frame);
    *  2. a draw threshold per source — the draws are uniform md5 values
    *     in [0, 2^60), so `maxDraw · (overdraw / n)` keeps an expected
    *     `overdraw = 8 × quota` rows per source; the threshold frame
    *     broadcasts back and the pre-filter is NARROW (no shuffle of the
    *     corpus);
    *  3. the exact rank window runs over the tiny survivor set only.
    * The pre-filter misses one of a source's true quota rows only if
    * fewer than `quota` of its n uniform draws land below the
    * `overdraw/n` quantile — Chernoff: P < exp(−(overdraw−quota)²/
    * (2·overdraw)) ≈ e⁻³⁰ per source, and deterministic for a given
    * dataset (the draws are content hashes, not RNG). Sources with
    * n ≤ overdraw skip the filter (threshold = MAX). Spark 4's rank-limit
    * pushdown (`WindowGroupLimit`, Partial before the exchange) then
    * prunes each map partition to its quota rows per source, so the
    * shuffled survivor set is doubly bounded. */
  def x25_source_quota(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quota = 10
    val overdraw = 8L * quota
    val maxDraw = (1L << 60) - 1 // stableHash64 = 15 hex digits of md5
    val draw = TextOps.stableHash64(
      concat(col("doc_id").cast(StringType), lit(":quota")))
    val base = documents(spark, dir)
      .select(col("doc_id"), col("source"), draw.as("draw"))
    val thresholds = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .select(col("source"),
        when(col("n") <= overdraw, lit(Long.MaxValue))
          .otherwise((lit(maxDraw.toDouble) * lit(overdraw.toDouble) /
            col("n").cast(DoubleType)).cast(LongType)).as("thr"))
    val survivors = base.join(broadcast(thresholds), Seq("source"))
      .filter(col("draw") <= col("thr"))
    val w = Window.partitionBy(col("source")).orderBy(col("draw"), col("doc_id"))
    survivors
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota)
      .select(col("doc_id"), col("source"), col("rk"))
  }

  val x25Oracle: String =
    """SELECT doc_id, source,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':quota'), 1, 15)) AS BIGINT),
      |      doc_id) AS INT) AS rk
      |FROM documents
      |QUALIFY rk <= 10""".stripMargin

  /** Token-window chunking — sequence packing's per-document half: split
    * each document's token stream into fixed windows of `W` tokens with
    * stride `S` (overlap `W−S`), the shape every pretraining tokenizer
    * pipeline needs before batching. One narrow HOF builds the chunk
    * index array and `posexplode` emits (doc, chunk_idx, chunk) — no
    * shuffle at all: at 100 TB this is an embarrassingly parallel map,
    * and output rows land in the same partition as their document.
    * Chunk count is exact integer arithmetic (`1 + max(0, ⌈(n−W)/S⌉)`,
    * computed with `div` so both engines round identically). */
  def x26_chunk_windows(spark: SparkSession, dir: String): DataFrame = {
    val W = 64
    val S = 48
    val docs = documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val nChunks = lit(1) + greatest(lit(0L),
      expr(s"(size(toks) - $W + ${S - 1}) div $S"))
    docs
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast(IntegerType).as("chunk_idx"),
        size(slice(col("toks"), (col("chunk_idx") * S + 1).cast(IntegerType),
          lit(W))).as("n_tokens"),
        concat_ws(" ",
          slice(col("toks"), (col("chunk_idx") * S + 1).cast(IntegerType),
            lit(W))).as("chunk"))
  }

  val x26Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      |n AS (
      |  SELECT doc_id, w,
      |    1 + GREATEST(0, (len(w) - 64 + 47) // 48) AS nchunks FROM t),
      |c AS (
      |  SELECT doc_id, w, unnest(generate_series(1, nchunks)) AS i FROM n)
      |SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
      |  CAST(len(w[(i-1)*48+1 : (i-1)*48+64]) AS INT) AS n_tokens,
      |  array_to_string(w[(i-1)*48+1 : (i-1)*48+64], ' ') AS chunk
      |FROM c""".stripMargin

  /** PII scrubbing — the redaction pass a compliance-clean corpus needs:
    * emails, international-format phone numbers, IPv4 addresses, and
    * 13–16-digit card-like numbers each replace with a typed tag
    * (`<EMAIL>` …), and the row reports whether anything was redacted.
    * Pure `regexp_replace` chains (codegen'd, narrow, no shuffle);
    * patterns are written in the regex intersection both engines'
    * dialects (Java / RE2) interpret identically, asserted by the
    * oracle hash on the full corpus and by a seeded-PII spec. Order
    * matters: emails first (an address contains digit runs a later
    * rule could half-eat), cards before phones (a 16-digit run must
    * become `<CARD>`, not a phone prefix match). */
  def x27_pii_scrub(spark: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
    val card = "\\b[0-9]{13,16}\\b"
    val phone = "\\+?[0-9][0-9 ()-]{6,18}[0-9]"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val scrubbed =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), email, "<EMAIL>"),
            ip, "<IP>"),
          card, "<CARD>"),
        phone, "<PHONE>")
    documents(spark, dir)
      .select(col("doc_id"), scrubbed.as("text_scrubbed"),
        (scrubbed =!= col("text")).as("redacted"))
  }

  val x27Oracle: String =
    """SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
      |        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
      |      '\b[0-9]{13,16}\b', '<CARD>', 'g'),
      |    '\+?[0-9][0-9 ()-]{6,18}[0-9]', '<PHONE>', 'g') AS text_scrubbed,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
      |        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
      |      '\b[0-9]{13,16}\b', '<CARD>', 'g'),
      |    '\+?[0-9][0-9 ()-]{6,18}[0-9]', '<PHONE>', 'g') <> text AS redacted
      |FROM documents""".stripMargin

  /** Cross-document exact-substring duplication (the Lee et al.
    * "Deduplicating Training Data Makes Language Models Better" signal,
    * at 8-gram granularity): per document, the fraction of its 8-gram
    * instances that occur anywhere else in the corpus more than once.
    * Shape at scale: a narrow explode, a (doc, gram) partial-combining
    * aggregate, a gram-level hash aggregate, an equi-join back, a
    * per-doc aggregate. Two deliberate choices:
    *  - The gram-level count is a HASH AGGREGATE + join, NOT a
    *    gram-partitioned window sum: boilerplate grams are the whole
    *    point of this operator, and at 100 TB a gram occurring in 10⁸
    *    documents would land 10⁸ rows in ONE WindowExec sort partition,
    *    while partial aggregation collapses it to one scalar per map
    *    task and AQE's skew-join splits the heavy key on the join back.
    *  - The (doc, gram) branch feeds both the gram aggregate and the
    *    join probe, and Spark shares no subplan across DataFrame
    *    branches, so the corpus is scanned + exploded twice — chosen
    *    over caching/checkpointing the (doc, gram) frame, which is
    *    corpus-token-sized: two narrow scans are cheap, corpus-sized
    *    executor storage is not (the x06/x14 recompute-over-cache rule).
    * PlanShapeSpec pins the shape (no window, no cartesian, partial
    * aggs). */
  def x28_substring_dup(spark: SparkSession, dir: String): DataFrame = {
    val grams = documents(spark, dir)
      .select(col("doc_id"),
        explode(TextOps.ngrams(TextOps.tokens(col("text")), 8)).as("gram"))
    val perDocGram = grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("c"))
    val perGram = perDocGram.groupBy(col("gram")).agg(sum(col("c")).as("cnt"))
    perDocGram.join(perGram, "gram")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).cast(LongType).as("n_grams"),
        sum(when(col("cnt") > 1, col("c")).otherwise(lit(0L)))
          .cast(LongType).as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast(DoubleType) / col("n_grams").cast(DoubleType))
  }

  val x28Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      |u AS (
      |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
      |  FROM t WHERE len(w) >= 8),
      |g AS (
      |  SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram FROM u),
      |cdg AS (
      |  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram),
      |cg AS (
      |  SELECT gram, SUM(c) AS cnt FROM cdg GROUP BY gram)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN cnt > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup,
      |  CAST(SUM(CASE WHEN cnt > 1 THEN c ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(c) AS DOUBLE) AS dup_frac
      |FROM cdg JOIN cg USING (gram)
      |GROUP BY doc_id""".stripMargin

  /** Per-source boilerplate-span signal — the C4/CCNet repeated-line
    * filter re-expressed for a corpus with no line structure: a 5-gram
    * span present in more than 20% of a source's DOCUMENTS (document
    * frequency, not occurrence count) is that source's boilerplate
    * (headers, navigation, license banners); per doc, report the span
    * count and boilerplate fraction. Shape at scale:
    *  - distinct spans per doc via one narrow `array_distinct` HOF
    *    before the explode — presence drives document frequency, so
    *    multiplicity is dropped at the map side;
    *  - (source, span) document counts are a partial-combining hash
    *    aggregate (NEVER a window over the span key — the x28 rule: a
    *    boilerplate span hitting 10⁸ docs must collapse map-side, not
    *    land in one sort partition);
    *  - per-source doc totals are a broadcast (source cardinality ≪
    *    corpus), and the join back on (source, span) gets AQE's
    *    skew-split;
    *  - the span branch is recomputed on both uses rather than cached
    *    (recompute-over-cache — the frame is corpus-token-sized). */
  def x29_boilerplate_spans(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusOps.boilerplateSpans(
      documents(spark, dir), "doc_id", "source", "text", n = 5, threshold = 0.2)

  val x29Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, source, string_split_regex(text, '\s+') AS w FROM documents),
      |u AS (
      |  SELECT doc_id, source, w, unnest(generate_series(1, len(w) - 4)) AS i
      |  FROM t WHERE len(w) >= 5),
      |g AS (
      |  SELECT DISTINCT doc_id, source, array_to_string(w[i:i+4], ' ') AS gram FROM u),
      |sd AS (
      |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |gb AS (
      |  SELECT source, gram,
      |    CAST(COUNT(*) AS DOUBLE) / CAST(ANY_VALUE(n_docs) AS DOUBLE) > 0.2 AS boiler
      |  FROM g JOIN sd USING (source) GROUP BY source, gram)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
      |  CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS boiler_frac
      |FROM g JOIN gb USING (source, gram)
      |GROUP BY doc_id""".stripMargin

  /** Greedy in-order sequence packing into ~512-token bins per source —
    * the step that turns a cleaned corpus into fixed-length training
    * sequences: docs are taken in deterministic doc_id order within
    * their source, and a running token total assigns each doc the bin
    * its FIRST token lands in. A doc straddling a boundary stays in its
    * starting bin (overflow bounded by that doc's own length) — the
    * streaming-friendly packing distributed pipelines actually ship;
    * exact bin packing is inherently sequential. The cumsum is a
    * TWO-PHASE distributed prefix sum ([[graft.text.CorpusOps
    * .sequencePacking]]): a corpus-scaled monotone bucket key bounds
    * every row-level sort partition to ~4096 rows, bucket totals get an
    * exclusive per-source scan on a frame ~4000× smaller than the
    * corpus, and the offsets broadcast back — so no task ever sorts a
    * whole source (the x25 scale-killer the old single-window shape
    * carried). `cum` is exact integer arithmetic, invariant to the
    * bucketing, so both engines bin identically (`div 512`) and the
    * oracle stays the plain window form. */
  def x30_sequence_packing(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusOps.sequencePacking(
      documents(spark, dir), "doc_id", "source", "text", cap = 512)

  val x30Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT doc_id, source, n_tokens,
      |  CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id
      |FROM c""".stripMargin

  /** Multi-table LSH near-dup — the recall dial on x08: two independent
    * md5-seeded hyperplane draws, each the full corpus-scaled-bucket
    * shape, pair sets UNIONed (SQL set semantics collapse the overlap —
    * cosine is deterministic, so duplicate pairs are byte-identical).
    * Single-table recall r becomes 1−(1−r)² at 2× candidate cost. */
  def x31_lsh_multi_table(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.nearDupPairsLshMulti(
      embeddings(spark, dir).repartition(spark.sparkContext.defaultParallelism),
      "vec_id", "embedding", 0.3, tables = 2)

  val x31Oracle: String = {
    val mod = graft.dedup.Blocking.powTwoModulusSql("(SELECT nb FROM nbf)", 16)
    def tableCtes(t: String, seed: String) =
      s"""hp$t AS (
         |  SELECT b, list_transform(generate_series(0, 63), i ->
         |    CAST(('0x' || substr(md5('$seed' || b || '|' || i), 1, 15)) AS BIGINT) % 2001 - 1000) AS h
         |  FROM generate_series(0, 15) t(b)),
         |bkt$t AS (
         |  SELECT vec_id, qv, n2,
         |    CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> qv[i] * h[i])) >= 0
         |             THEN 1 << b ELSE 0 END) AS BIGINT) % ($mod) AS bucket
         |  FROM n CROSS JOIN hp$t GROUP BY vec_id, qv, n2)""".stripMargin
    def pairSelect(t: String) =
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
         |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
         |FROM bkt$t a JOIN bkt$t b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
         |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) > 0.3""".stripMargin
    s"""WITH nbf AS (
       |  SELECT GREATEST(1, CAST(ceil(COUNT(*) / 256.0) AS BIGINT)) AS nb FROM embeddings),
       |q AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, qv,
       |    list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS n2
       |  FROM q),
       |${tableCtes("0", "")},
       |${tableCtes("1", "t1|")}
       |${pairSelect("0")}
       |UNION
       |${pairSelect("1")}""".stripMargin
  }

  /** Temperature-based source mixing (the LLaMA/GPT-3 data-mixing step):
    * a source's sampling weight is count^τ (τ = 0.5), flattening the
    * source distribution so a dominant crawl stops drowning small
    * high-quality sources; the overall draw targets half the corpus.
    * Every rate is INTEGER arithmetic — floor(sqrt) weights (sqrt of an
    * exact integer is correctly-rounded IEEE on any engine), integer
    * quotas, per-myriad keep thresholds — so both engines make
    * bit-identical keep decisions, and the draw itself is the
    * deterministic md5 bucket (the x17/x19 idiom). Shape at scale:
    * source weights are one tiny partial-combining aggregate (source
    * cardinality ≪ corpus), the threshold table broadcasts back, and
    * the keep decision is one narrow filtered scan — the corpus itself
    * never shuffles. */
  def x32_temperature_mix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // corpus totals as a single-partition window over the COUNTS frame
    // (source-cardinality-sized — the x30 totals-scan idiom), never a
    // second aggregate branch that would rescan the corpus
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = documents(spark, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_src"))
      .withColumn("w", floor(sqrt(col("n_src"))).cast(LongType))
      .withColumn("n_total", sum(col("n_src")).over(wAll))
      .withColumn("w_total", sum(col("w")).over(wAll))
      .select(col("source"),
        least(lit(10000L),
          expr("((n_total div 2) * w div w_total) * 10000 div n_src"))
          .as("keep_myriad"))
    val bucket = pmod(TextOps.stableHash64(
      concat(col("doc_id").cast(StringType), lit(":mix"))), lit(10000))
    documents(spark, dir)
      .select(col("doc_id"), col("source"), bucket.as("bucket"))
      .join(broadcast(rates), "source")
      .filter(col("bucket") < col("keep_myriad"))
      .select(col("doc_id"), col("source"), col("bucket"), col("keep_myriad"))
  }

  val x32Oracle: String =
    """WITH c AS (
      |  SELECT source, COUNT(*) AS n_src,
      |    CAST(floor(sqrt(COUNT(*))) AS BIGINT) AS w
      |  FROM documents GROUP BY source),
      |t AS (SELECT SUM(n_src) AS n_total, SUM(w) AS w_total FROM c),
      |r AS (
      |  SELECT source,
      |    LEAST(10000, ((n_total // 2) * w // w_total) * 10000 // n_src) AS keep_myriad
      |  FROM c CROSS JOIN t)
      |SELECT d.doc_id, d.source,
      |  CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 15)) AS BIGINT) % 10000 AS bucket,
      |  CAST(r.keep_myriad AS BIGINT) AS keep_myriad
      |FROM documents d JOIN r USING (source)
      |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 15)) AS BIGINT) % 10000
      |  < r.keep_myriad""".stripMargin

  /** Exact-dup survivorship — x05 keeps the min-id copy; real cleaning
    * pipelines keep the BEST copy. Survivor per content key = the doc
    * maximizing (distinct-token count, then smallest id among ties),
    * computed in ONE map-side-combining `max(struct(...))` aggregate:
    * the lexicographic struct max carries the argmax through partial
    * aggregation, so there is no window and no second corpus pass — the
    * 100 TB survivorship shape (the two-aggregate join form the oracle
    * uses is the semantic spec, not the plan). */
  def x33_dedup_survivor(spark: SparkSession, dir: String): DataFrame =
    x33From(documents(spark, dir))

  private[graft] def x33From(docs: DataFrame): DataFrame = {
    val key = md5(concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)))
    docs
      .select(key.as("dup_key"), col("doc_id"),
        TextOps.distinctTokenCount(col("text")).cast(LongType).as("nd"))
      .groupBy(col("dup_key"))
      .agg(max(struct(col("nd"), (-col("doc_id")).as("neg_id"))).as("m"),
        count(lit(1)).as("group_size"))
      .select(col("dup_key"), col("m.nd").as("best_distinct"),
        (-col("m.neg_id")).as("survivor_id"), col("group_size"))
  }

  val x33Oracle: String =
    """WITH d AS (
      |  SELECT md5(array_to_string((string_split_regex(text,'\s+'))[1:5], ' ')) AS dup_key,
      |    doc_id,
      |    CAST(CASE WHEN length(text)=0 THEN 0
      |         ELSE len(list_distinct(string_split_regex(text,'\s+'))) END AS BIGINT) AS nd
      |  FROM documents),
      |g AS (
      |  SELECT dup_key, MAX(nd) AS best_distinct, COUNT(*) AS group_size
      |  FROM d GROUP BY dup_key)
      |SELECT g.dup_key, g.best_distinct, MIN(d.doc_id) AS survivor_id, g.group_size
      |FROM d JOIN g ON d.dup_key = g.dup_key AND d.nd = g.best_distinct
      |GROUP BY g.dup_key, g.best_distinct, g.group_size""".stripMargin

  /** Deterministic global corpus shuffle + fixed-size shard assignment —
    * the step between cleaning and training that randomizes document
    * order (so a shard is never one crawl slice) and cuts the shuffled
    * order into shards: order by md5(doc_id || salt), pos = 0-based
    * global rank, shard_id = pos div 64. A global rank is the textbook
    * single-task window; [[graft.text.CorpusOps.globalShuffleOrder]]
    * runs it as the same two-phase prefix sum as x30 — hex-prefix
    * buckets scaled to the corpus (md5 is uniform, so buckets stay
    * balanced), a bounded local row_number, and an exclusive scan over
    * the bucket counts. The oracle keeps the plain one-window form. */
  def x34_global_shuffle(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusOps.globalShuffleOrder(
      documents(spark, dir), "doc_id", ":shuffle", shardDocs = 64)

  val x34Oracle: String =
    """WITH h AS (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':shuffle') AS hx
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, hx,
      |    CAST(ROW_NUMBER() OVER (ORDER BY hx, doc_id) - 1 AS BIGINT) AS pos
      |  FROM h)
      |SELECT doc_id, hx, pos, pos // 64 AS shard_id FROM r""".stripMargin

  /** Unigram-LM rarity scoring — the corpus-statistics quality gate: build
    * the corpus unigram model (term → count), then score each document by
    * its rare-token mass (`n_rare` = token instances whose corpus count is
    * ≤ 2 — hapax/dis legomena, the gibberish signal) and its rarest-token
    * surprisal (`n_corpus / cnt` — the rational inverse-probability form:
    * one exact-rounded division, and `MAX` is order-independent, so the
    * score is bit-identical across engines, unlike a sum of `ln p` whose
    * reduction order differs). `keep` drops documents whose tokens are
    * ≥ 20 % rare. Shape at scale: explode → one map-side-combining count
    * per term (the LM), corpus token total from the VOCAB frame (never a
    * second corpus scan), shuffle-hash join token→LM on term (the vocab
    * at 100 TB is too big to broadcast), one per-doc aggregate — the
    * x16 TF-IDF shape with a model join instead of a doc-frequency join. */
  def x35_rare_token_score(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val lm = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val n = lm.agg(sum(col("cnt")).as("n_corpus"))
    toks.join(lm, "term").crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cnt") <= 2, 1L).otherwise(0L)).as("n_rare"),
        max(col("n_corpus").cast(DoubleType) / col("cnt").cast(DoubleType))
          .as("max_surprisal"))
      .withColumn("keep", col("n_rare") * 5 < col("n_tokens"))
  }

  val x35Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term FROM documents),
      |tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
      |lm AS (SELECT term, COUNT(*) AS cnt FROM tt GROUP BY 1),
      |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_corpus FROM lm)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      |  MAX(CAST(n_corpus AS DOUBLE) / CAST(cnt AS DOUBLE)) AS max_surprisal,
      |  CAST(SUM(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) * 5 < COUNT(*) AS keep
      |FROM tt JOIN lm USING (term) CROSS JOIN n
      |GROUP BY doc_id""".stripMargin

  /** Leakage-safe split — x17's deterministic 90/5/5, but keyed on the
    * duplicate-cluster key (x05/x33's content key) instead of the doc id:
    * every copy of a duplicated document hashes to the SAME bucket, so
    * duplicates can never straddle train/test (the contamination x38
    * measures on the naive split). Fully narrow — the key, the hash, and
    * the bucket are all per-row expressions; the 100 TB split costs one
    * scan, zero shuffles, and is reproducible run-over-run and
    * engine-over-engine. */
  def x36_leakage_safe_split(spark: SparkSession, dir: String): DataFrame = {
    val key = md5(concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)))
    documents(spark, dir)
      .select(col("doc_id"), key.as("dup_key"))
      .withColumn("bucket",
        TextOps.stableHash64(concat(col("dup_key"), lit(":split"))) % 100)
      .withColumn("split",
        when(col("bucket") < 90, lit("train"))
          .when(col("bucket") < 95, lit("val"))
          .otherwise(lit("test")))
  }

  val x36Oracle: String =
    """WITH k AS (
      |  SELECT doc_id,
      |    md5(array_to_string((string_split_regex(text, '\s+'))[1:5], ' ')) AS dup_key
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, dup_key,
      |    CAST(('0x' || substr(md5(dup_key || ':split'), 1, 15)) AS BIGINT) % 100 AS bucket
      |  FROM k)
      |SELECT doc_id, dup_key, bucket,
      |  CASE WHEN bucket < 90 THEN 'train'
      |       WHEN bucket < 95 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM b""".stripMargin

  /** Symmetric int8 embedding quantization — the storage/bandwidth scale
    * path for ANN: per-vector max-abs scale, `q = floor(v/scale*127 + .5)`
    * (explicit half-up floor — both engines' `round` differ on ties, the
    * floor form doesn't), zero-vectors quantize to zeros. Every step is
    * IEEE-exact: float→double cast, one division, one multiply, `floor`,
    * and the order-independent `max` for the scale — bit-identical across
    * engines. The vector is emitted as a canonical CSV string plus an
    * exact integer norm (`q_norm2`, the value an int8 IVF/PQ index stores
    * alongside the codes). Fully narrow: one pass, zero shuffles — at
    * 100 TB this is a map-only rewrite that cuts vector bytes 4×. */
  def x37_embed_quantize(spark: SparkSession, dir: String): DataFrame = {
    val qv = transform(col("embedding"), x =>
      when(col("scale") === 0.0, lit(0))
        .otherwise(floor(x.cast(DoubleType) / col("scale") * 127.0 + 0.5)
          .cast(IntegerType)))
    embeddings(spark, dir)
      .withColumn("scale",
        array_max(transform(col("embedding"), x => abs(x.cast(DoubleType)))))
      .select(col("vec_id"), col("scale"),
        concat_ws(",", qv).as("q_csv"),
        aggregate(qv, lit(0L), (acc, v) => acc + v * v).as("q_norm2"))
  }

  val x37Oracle: String =
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, scale,
      |    list_transform(embedding, x ->
      |      CAST(CASE WHEN scale = 0 THEN 0
      |           ELSE floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5) END AS INT)) AS qv
      |  FROM s)
      |SELECT vec_id, scale, array_to_string(qv, ',') AS q_csv,
      |  CAST(list_sum(list_transform(qv, v -> CAST(v AS BIGINT) * v)) AS BIGINT) AS q_norm2
      |FROM q""".stripMargin

  /** x06's scored near-dup pairs behind [[graft.ops.Staged]] — the
    * production shape for every AUDIT over the near-dup relation: the
    * minhash+LSH+verify pipeline runs once per (dataset content, build)
    * and lands as a bucketed parquet staging; each downstream audit is then
    * one scan + aggregate over id-pair rows. At 100 TB this converts
    * every additional integrity report from a full corpus re-shingle
    * into a read of the (tiny: candidate survivors only) pair frame.
    * Bucketed by `doc_a` so pair-graph joins back to per-doc frames can
    * co-locate without an exchange on the staged side. */
  def stagedLshScoredPairs(spark: SparkSession, dir: String): DataFrame =
    Staged.tables(spark, Staged.Stage("lshpairs", dir, Seq("documents.parquet")))(
      new Staged.Table("pairs", "doc_a", x06_dedup_minhash_lsh(spark, dir))).head

  /** Split-leakage audit — measures the contamination x36 exists to
    * prevent: take the near-dup pairs ([[stagedLshScoredPairs]],
    * jaccard ≥ .5) and classify each endpoint under the NAIVE per-doc
    * split (x17's formula), counting pairs per (split_a, split_b) cell;
    * `leaky` marks the off-diagonal cells — near-duplicates straddling
    * train/eval, the benchmark-contamination number an eval-integrity
    * report leads with. The split is a pure hash of the id, so each
    * endpoint classifies NARROWLY from the pair row itself — no join
    * back to the corpus; the audit itself is ONE aggregate over the
    * staged pair frame (no minhash recompute — pinned in
    * PlanShapeSpec). */
  def x38_split_leakage_audit(spark: SparkSession, dir: String): DataFrame = {
    def splitOf(c: Column): Column = {
      val b = TextOps.stableHash64(c.cast(StringType)) % 100
      when(b < 90, lit("train")).when(b < 95, lit("val")).otherwise(lit("test"))
    }
    stagedLshScoredPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .select(splitOf(col("doc_a")).as("split_a"), splitOf(col("doc_b")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaky", col("split_a") =!= col("split_b"))
  }

  val x38Oracle: String = {
    def splitSql(c: String) =
      s"""CASE WHEN CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
         |       WHEN CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
         |       ELSE 'test' END""".stripMargin
    s"""WITH $lshScoredCtes,
       |leak AS (
       |  SELECT ${splitSql("doc_a")} AS split_a,
       |    ${splitSql("doc_b")} AS split_b
       |  FROM scored WHERE jaccard >= 0.5)
       |SELECT split_a, split_b, COUNT(*) AS n_pairs, split_a <> split_b AS leaky
       |FROM leak GROUP BY split_a, split_b""".stripMargin
  }

  /** SemDeDup-style semantic dedup (cluster → within-cluster cosine
    * prune → keep the min-id copy): [[SimilarityOps.semanticDedup]] over
    * the embedding corpus with label-seeded clusters, pair threshold
    * 0.4. The block key is (assigned cluster, sign-LSH sub-bucket with a
    * corpus-scaled modulus) — cluster membership alone grows with the
    * corpus, the sub-bucket keeps block size ~256 (the x08/x12 Blocking
    * contract), so pair work grows linearly at 100×. Every vector is
    * emitted with a `kept` verdict for auditability. */
  def x39_semantic_dedup(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.semanticDedup(
      embeddings(spark, dir), "vec_id", "embedding", "label", 0.4)

  val x39Oracle: String = {
    val mod = graft.dedup.Blocking.powTwoModulusSql("(SELECT nb FROM nbf)", 16)
    s"""WITH nbf AS (
      |  SELECT GREATEST(1, CAST(ceil(COUNT(*) / 256.0) AS BIGINT)) AS nb FROM embeddings),
      |hp AS (
      |  SELECT b, list_transform(generate_series(0, 63), i ->
      |    CAST(('0x' || substr(md5(b || '|' || i), 1, 15)) AS BIGINT) % 2001 - 1000) AS h
      |  FROM generate_series(0, 15) t(b)),
      |q AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, label, qv,
      |    list_sum(list_transform(generate_series(1, 64), i -> qv[i] * qv[i])) AS n2
      |  FROM q),
      |comp AS (
      |  SELECT label AS c_label, i.i AS pos, SUM(qv[i.i]) AS s
      |  FROM q, generate_series(1, 64) i(i)
      |  GROUP BY 1, 2),
      |cent AS (
      |  SELECT c_label, list(s ORDER BY pos) AS cv FROM comp GROUP BY c_label),
      |cn AS (
      |  SELECT c_label, cv,
      |    list_sum(list_transform(generate_series(1, 64), i -> cv[i] * cv[i])) AS cn2
      |  FROM cent),
      |asn AS (
      |  SELECT n.vec_id, cn.c_label AS assigned_label
      |  FROM n CROSS JOIN cn
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
      |    ROUND(CAST(list_sum(list_transform(generate_series(1, 64), i -> n.qv[i] * cn.cv[i])) AS DOUBLE)
      |      / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE))), 6) DESC, cn.c_label) = 1),
      |bkt AS (
      |  SELECT n.vec_id, asn.assigned_label, n.qv, n.n2,
      |    CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> n.qv[i] * h[i])) >= 0
      |             THEN 1 << b ELSE 0 END) AS BIGINT) % ($mod) AS bucket
      |  FROM n JOIN asn ON n.vec_id = asn.vec_id CROSS JOIN hp
      |  GROUP BY n.vec_id, asn.assigned_label, n.qv, n.n2),
      |dup AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM bkt a JOIN bkt b
      |    ON a.assigned_label = b.assigned_label AND a.bucket = b.bucket
      |      AND a.vec_id < b.vec_id
      |  WHERE CAST(list_sum(list_transform(generate_series(1, 64), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) > 0.4)
      |SELECT k.vec_id, k.assigned_label, d.vec_id IS NULL AS kept
      |FROM bkt k LEFT JOIN dup d ON k.vec_id = d.vec_id""".stripMargin
  }

  /** Corpus snapshot diff — the incremental-ingest delta
    * ([[graft.text.CorpusOps.snapshotDiff]]): two deterministic
    * generations of the documents table (ids ≡7 mod 10 exist only in the
    * old crawl, ids ≡3 mod 10 only in the new, ids ≡0 mod 5 re-crawled
    * with revised content), classified added/removed/changed by content
    * fingerprint over ONE full-outer id join. Only the delta is emitted —
    * what an incremental pipeline actually reprocesses. */
  def x40_snapshot_diff(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
    val oldGen = d.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      .select(col("doc_id"), TextOps.fingerprint64(col("text")).as("fp"))
    val newGen = d.filter(pmod(col("doc_id"), lit(10)) =!= 3)
      .select(col("doc_id"), TextOps.fingerprint64(
        when(pmod(col("doc_id"), lit(5)) === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("fp"))
    graft.text.CorpusOps.snapshotDiff(oldGen, newGen, "doc_id", "fp")
      .filter(col("status") =!= "unchanged")
  }

  val x40Oracle: String = {
    def fp(t: String) =
      s"CAST(('0x' || substr(md5(trim(regexp_replace(regexp_replace(lower($t), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))), 1, 15)) AS BIGINT)"
    s"""WITH o AS (
      |  SELECT doc_id, ${fp("text")} AS fp FROM documents WHERE doc_id % 10 <> 7),
      |n AS (
      |  SELECT doc_id, ${fp("CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END")} AS fp
      |  FROM documents WHERE doc_id % 10 <> 3),
      |d AS (
      |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |    o.fp AS fp_old, n.fp AS fp_new,
      |    CASE WHEN o.doc_id IS NULL THEN 'added'
      |         WHEN n.doc_id IS NULL THEN 'removed'
      |         WHEN o.fp <> n.fp THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM o FULL JOIN n ON o.doc_id = n.doc_id)
      |SELECT doc_id, fp_old, fp_new, status FROM d WHERE status <> 'unchanged'""".stripMargin
  }

  /** Deterministic global bottom-k corpus sample: order by an md5 draw,
    * keep the k smallest — "give me a reproducible 100-doc sample of the
    * corpus" without a full sort. Spark plans `orderBy().limit(k)` as
    * TakeOrderedAndProject: each task keeps a k-row heap, the driver
    * merges 32 heaps of 100 — no global sort Exchange ever materializes,
    * which is why this scales to 100 TB while `ORDER BY` alone would not.
    * Complements x19 (per-stratum rates) and x25 (per-source quotas):
    * this is the global fixed-SIZE draw. Salted key, md5-derived so the
    * oracle reproduces the exact sample. */
  def x41_bottomk_sample(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        TextOps.stableHash64(concat(lit("x41|"), col("doc_id").cast(StringType))).as("draw"))
      .orderBy(col("draw"), col("doc_id"))
      .limit(100)

  val x41Oracle: String =
    """SELECT doc_id, lang, source,
      |  CAST(('0x' || substr(md5('x41|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS draw
      |FROM documents
      |ORDER BY draw, doc_id LIMIT 100""".stripMargin

  /** Incremental delta dedup ([[DedupOps.incrementalDedup]]): the x40
    * snapshot's ADDED docs (ids ≡7 mod 10) deduped against the standing
    * corpus (everything else) on the x05 content key — the pipeline a
    * nightly crawl actually runs: the corpus contributes only its
    * distinct-key index, work scales with the delta. Verdict mix at
    * sf0.01: new / dup_in_delta / dup_of_corpus all non-empty. */
  def x42_incremental_dedup(spark: SparkSession, dir: String): DataFrame = {
    val key = md5(concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)))
    val d = documents(spark, dir).select(col("doc_id"), key.as("fp"))
    DedupOps.incrementalDedup(
      d.filter(pmod(col("doc_id"), lit(10)) =!= 7),
      d.filter(pmod(col("doc_id"), lit(10)) === 7),
      "doc_id", "fp")
  }

  val x42Oracle: String =
    """WITH k AS (
      |  SELECT doc_id, md5(array_to_string((string_split_regex(text,'\s+'))[1:5], ' ')) AS fp
      |  FROM documents),
      |c AS (SELECT DISTINCT fp FROM k WHERE doc_id % 10 <> 7),
      |d AS (
      |  SELECT fp, doc_id,
      |    MIN(doc_id) OVER (PARTITION BY fp) AS mn,
      |    fp IN (SELECT fp FROM c) AS seen
      |  FROM k WHERE doc_id % 10 = 7)
      |SELECT fp, doc_id,
      |  CASE WHEN seen THEN 'dup_of_corpus'
      |       WHEN doc_id <> mn THEN 'dup_in_delta'
      |       ELSE 'new' END AS verdict
      |FROM d""".stripMargin

  /** Robust per-language length-outlier filter — median ± 3·MAD (median
    * absolute deviation) over token counts, the robust-statistics twin of
    * the fixed Gopher length cut: thresholds ADAPT per language instead
    * of being hand-tuned. Exact medians of integer counts interpolate to
    * exact binary fractions (.5 steps), so the verdict is bit-stable
    * across engines (the q49 percentile parity contract). Shapes: two
    * per-language exact-percentile aggregates (language cardinality is
    * bounded, each holds per-group value buffers — the documented exact
    * path; swap `approx_percentile` for the sketch path at 100 TB), the
    * k-row threshold frame broadcasts back, and the verdict is a narrow
    * filter — the corpus never shuffles. */
  def x43_mad_length_filter(spark: SparkSession, dir: String): DataFrame = {
    val counted = documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast(LongType).as("n_tokens"))
    val med = counted.groupBy(col("lang"))
      .agg(expr("percentile(n_tokens, 0.5)").as("med"))
    val mad = counted.join(broadcast(med), Seq("lang"))
      .select(col("lang"), col("med"), abs(col("n_tokens") - col("med")).as("dev"))
      .groupBy(col("lang"), col("med"))
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    counted.join(broadcast(mad), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("med"), col("mad"),
        (abs(col("n_tokens") - col("med")) <= col("mad") * 3).as("keep"))
  }

  val x43Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN length(text)=0 THEN 0 ELSE len(string_split_regex(text,'\s+')) END AS n_tokens
      |  FROM documents),
      |m AS (SELECT lang, quantile_cont(n_tokens, 0.5) AS med FROM t GROUP BY lang),
      |md AS (
      |  SELECT t.lang, m.med, quantile_cont(abs(t.n_tokens - m.med), 0.5) AS mad
      |  FROM t JOIN m ON t.lang = m.lang GROUP BY t.lang, m.med)
      |SELECT t.doc_id, t.lang, t.n_tokens, md.med, md.mad,
      |  abs(t.n_tokens - md.med) <= md.mad * 3 AS keep
      |FROM t JOIN md ON t.lang = md.lang""".stripMargin

  /** Cross-source overlap matrix — corpus-level Jaccard between every
    * source pair over distinct 5-gram sets: the "how much does crawl A
    * duplicate crawl B" question answered BEFORE mixing weights are
    * chosen (x32's temperature mix assumes sources are distinct; this
    * measures how true that is). Exact, not sketched.
    *
    * Shapes at scale: corpus → distinct (source, gram) is one
    * partial-combining aggregate; the pair counts come from a self-join
    * on the GRAM — per-gram fanout is bounded by source CARDINALITY
    * (≤ k sources per gram → ≤ k² pair rows), never by corpus size, so
    * the join output grows linearly with distinct grams; the k-row
    * per-source totals broadcast into the final 190-row matrix. The
    * union term is |A|+|B|−|A∩B| — no second join. Pairs with zero
    * shared grams have no row (jaccard 0 by absence). */
  def x44_source_overlap(spark: SparkSession, dir: String): DataFrame = {
    val g = documents(spark, dir)
      .select(col("source"),
        explode(array_distinct(TextOps.ngrams(TextOps.tokens(col("text")), 5))).as("g"))
      .distinct()
    val counts = g.groupBy(col("source")).agg(count(lit(1)).as("n"))
    g.select(col("source").as("src_a"), col("g"))
      .join(g.select(col("source").as("src_b"), col("g")), Seq("g"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(counts.select(col("source").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(counts.select(col("source").as("src_b"), col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
        (col("n_common").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_common")).cast(DoubleType)).as("jaccard"))
  }

  val x44Oracle: String =
    """WITH t AS (
      |  SELECT source, string_split_regex(text, '\s+') AS w FROM documents),
      |g AS (
      |  SELECT DISTINCT source, unnest(list_distinct(list_transform(
      |    generate_series(1, len(w) - 4), i -> array_to_string(w[i:i+4], ' ')))) AS g
      |  FROM t),
      |c AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
      |p AS (
      |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, ca.n AS n_a, cb.n AS n_b, n_common,
      |  CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jaccard
      |FROM p JOIN c ca ON src_a = ca.source JOIN c cb ON src_b = cb.source""".stripMargin

  /** x40's snapshot diff with ZERO exchanges — the nightly-diff shape a
    * long-lived corpus should actually run: each generation's
    * fingerprint index is MATERIALIZED bucketed by doc id at ingest
    * ([[graft.ops.Staged]]), so the full-outer
    * diff join co-locates by bucket and the plan contains no Exchange at
    * all. At 100 TB that converts the diff from a 2×-corpus-fingerprint
    * shuffle into a per-bucket merge — the write-once/diff-nightly
    * amortization. Output ≡ x40 (same oracle); the zero-Exchange plan is
    * asserted in PlanShapeSpec. */
  def x45_bucketed_snapshot_diff(spark: SparkSession, dir: String): DataFrame = {
    lazy val d = documents(spark, dir) // read only when a table is built
    val Seq(oldT, newT) =
      Staged.tables(spark, Staged.Stage("diffstage", dir, Seq("documents.parquet")))(
        new Staged.Table("old", "doc_id",
          d.filter(pmod(col("doc_id"), lit(10)) =!= 7)
            .select(col("doc_id"), TextOps.fingerprint64(col("text")).as("fp"))),
        new Staged.Table("new", "doc_id",
          d.filter(pmod(col("doc_id"), lit(10)) =!= 3)
            .select(col("doc_id"), TextOps.fingerprint64(
              when(pmod(col("doc_id"), lit(5)) === 0, concat(col("text"), lit(" rev2")))
                .otherwise(col("text"))).as("fp"))))
    graft.text.CorpusOps.snapshotDiff(oldT, newT, "doc_id", "fp")
      .filter(col("status") =!= "unchanged")
  }

  /** Token-budget mixture sampling
    * ([[graft.text.CorpusOps.tokenBudgetSample]]): 600 tokens per
    * source, deterministic md5 draw — completes the mixing trio (x25
    * doc-count quotas, x32 temperature weights, x46 token budgets, which
    * is what a training recipe actually specifies). The running total is
    * the x30/x34 two-phase prefix sum, never one window task per
    * source. */
  def x46_token_budget_mix(spark: SparkSession, dir: String): DataFrame = {
    val counted = documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).cast(LongType).as("n_tokens"))
    graft.text.CorpusOps.tokenBudgetSample(
        counted, "doc_id", "source", "n_tokens", 600L, "x46|")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("keep"))
  }

  val x46Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CASE WHEN length(text)=0 THEN 0 ELSE len(string_split_regex(text,'\s+')) END AS n_tokens,
      |    md5('x46|' || CAST(doc_id AS VARCHAR)) AS hx
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY hx, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      |  FROM t)
      |SELECT doc_id, source, n_tokens,
      |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
      |  cum_tokens <= 600 AS keep
      |FROM r""".stripMargin

  /** Simhash + Hamming-band dedup — the Manku et al. 2007 web-dedup
    * pipeline: a wide simhash split into 4 bands, candidate pairs from a
    * band equi-join, verified by `bit_count(xor)` ≤ 3. Pigeonhole gives
    * EXACT recall at the threshold (3 differing bits cannot touch all 4
    * bands) — unlike LSH's probabilistic recall (x06/x08). The band
    * width is corpus-scaled (`max(8, Blocking.scaledBits(n/256))`, a
    * driver-side count like x13's self-tuned bits): band-block
    * membership stays ~256 as the corpus grows, so candidate pairs grow
    * linearly — Manku's "more tables, wider bands" knob wired to the
    * shared Blocking contract. Emitted per doc (candidate/dup-neighbor
    * counts) — the synthetic small-vocab corpus makes signatures cluster,
    * and the rollup keeps the gate output corpus-sized, not pair-sized. */
  def x47_simhash_hamming(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Blocking
    val docs = documents(spark, dir)
    val bandBits = math.max(8, Blocking.scaledBits(docs.count(), 256.0, 15))
    val mask = (1L << bandBits) - 1
    val sigd = docs.select(col("doc_id"),
      DedupOps.simhashLong(col("text"), 4 * bandBits).as("sig"))
    val bands = sigd
      .withColumn("band_idx", explode(sequence(lit(0), lit(3))))
      .withColumn("band_val",
        call_function("shiftright", col("sig"), col("band_idx") * bandBits)
          .bitwiseAND(lit(mask)))
    val pairs = bands
      .select(col("doc_id").as("id_a"), col("sig").as("sig_a"),
        col("band_idx"), col("band_val"))
      .join(bands.select(col("doc_id").as("id_b"), col("sig").as("sig_b"),
        col("band_idx"), col("band_val")), Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b")).distinct()
      .withColumn("dup",
        call_function("bit_count", col("sig_a").bitwiseXOR(col("sig_b"))) <= 3)
    val perDoc = pairs.select(col("id_a").as("doc_id"), col("dup"))
      .union(pairs.select(col("id_b").as("doc_id"), col("dup")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_neighbors"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_dup_neighbors"), lit(0L)).as("n_dup_neighbors"))
  }

  val x47Oracle: String = {
    val ladder = graft.dedup.Blocking.scaledBitsSql("(SELECT nb FROM nf)", 15)
    s"""WITH nf AS (
      |  SELECT GREATEST(1, CAST(ceil(COUNT(*) / 256.0) AS BIGINT)) AS nb FROM documents),
      |wf AS (SELECT GREATEST(8, $ladder) AS band_bits FROM nf),
      |sums AS (
      |  SELECT doc_id, b.i AS b,
      |    list_sum(list_transform(list_distinct(string_split_regex(text,'\\s+')),
      |      w -> CASE WHEN (CAST(('0x'||substr(md5(w),1,15)) AS BIGINT) >> b.i) & 1 = 1
      |           THEN 1 ELSE -1 END)) AS s
      |  FROM documents, (SELECT i FROM generate_series(0, 59) g(i)) b, wf
      |  WHERE b.i < 4 * wf.band_bits),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
      |  FROM sums GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, sig, bi.i AS band_idx,
      |    (sig >> (bi.i * band_bits)) & ((CAST(1 AS BIGINT) << band_bits) - 1) AS band_val
      |  FROM sig, generate_series(0, 3) bi(i), wf),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
      |flagged AS (
      |  SELECT id_a, id_b, bit_count(xor(sig_a, sig_b)) <= 3 AS dup FROM pairs),
      |per_doc AS (
      |  SELECT doc_id, COUNT(*) AS n_candidates,
      |    CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_neighbors
      |  FROM (SELECT id_a AS doc_id, dup FROM flagged
      |        UNION ALL SELECT id_b AS doc_id, dup FROM flagged)
      |  GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(p.n_candidates, 0) AS n_candidates,
      |  COALESCE(p.n_dup_neighbors, 0) AS n_dup_neighbors
      |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin
  }

  /** x11's IVF search through a PERSISTED index — the train-once /
    * probe-nightly amortization: the first run fits the quantizer and
    * writes (centroids, cell-partitioned assignments) as a
    * [[graft.ops.Staged]] artifact; every later run —
    * including bench iterations 2+ and fresh sessions over the same
    * data — loads and searches with NO KMeans fit, and a sub-full probe
    * opens only its nProbe cells' files (partition pruning,
    * spec-asserted). Gate runs the full probe, so the result is exact —
    * the same brute-force oracle as x11. */
  def x48_ann_ivf_persisted(spark: SparkSession, dir: String): DataFrame = {
    val index = Staged.artifact(x48Stage(dir)) { path =>
      val emb = embeddings(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
      graft.sim.IvfIndex.save(
        graft.sim.IvfIndex.build(emb, "vec_id", "embedding", k = 16), path)
    }
    val model = graft.sim.IvfIndex.load(spark, index)
    graft.sim.IvfIndex.search(spark, model,
      embeddings(spark, dir).filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nProbe = 16)
  }

  private[graft] def x48Stage(dir: String): Staged.Stage =
    Staged.Stage("ivf", dir, Seq("embeddings.parquet"))

  /** Incremental IVF delta-APPEND — the x72/x42 incremental contract on
    * the ANN plane: the base index is trained and persisted over the
    * stable corpus slice (vec_id ≢ 7 mod 10) ONCE; a delta batch
    * (vec_id ≡ 7) is assigned to the EXISTING centroids with a narrow
    * broadcast-literal argmin ([[graft.sim.IvfIndex.assign]] — no KMeans
    * re-fit, the nightly-embedding-batch path at 100 TB) and unioned
    * into the cell lists. The full-probe search over the MERGED index is
    * exact, so the brute-force oracle certifies the append loses
    * nothing; `from_delta` proves delta vectors actually serve as
    * neighbors. In production the append writes into the cell-partitioned
    * parquet ([[graft.sim.IvfIndex.save]]'s layout) instead of a union.
    * Scale shape: delta work is delta-sized (assign is one codegen'd
    * projection); a sub-full probe's search join shuffles on `cell`, never
    * the cross product; re-clustering cost is amortized to zero per batch. */
  def x85_ivf_delta_append(spark: SparkSession, dir: String): DataFrame = {
    val index = Staged.artifact(x85Stage(dir)) { path =>
      val base = embeddings(spark, dir)
        .filter(pmod(col("vec_id"), lit(10L)) =!= 7)
        .repartition(spark.sparkContext.defaultParallelism)
      graft.sim.IvfIndex.save(
        graft.sim.IvfIndex.build(base, "vec_id", "embedding", k = 16), path)
    }
    val model = graft.sim.IvfIndex.load(spark, index)
    val delta = embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(10L)) === 7)
    val appended = graft.sim.IvfIndex.assign(delta, "embedding", model)
    val merged = graft.sim.IvfIndex.Model(model.centroids,
      model.assigned.unionByName(
        appended.select(model.assigned.columns.map(col).toSeq: _*)))
    graft.sim.IvfIndex.search(spark, merged,
        embeddings(spark, dir).filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 16)
      .withColumn("from_delta", pmod(col("neighbor_id"), lit(10L)) === 7)
  }

  private[graft] def x85Stage(dir: String): Staged.Stage =
    Staged.Stage("ivfd", dir, Seq("embeddings.parquet"))

  val x85Oracle: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS n2
      |  FROM q),
      |scored AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
      |  FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
      |SELECT query_id, neighbor_id, rank, cosine,
      |  neighbor_id % 10 = 7 AS from_delta
      |FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin

  /** Approximate distinct counting as a MERGEABLE sketch
    * ([[graft.sketch.Hll]]): per-event-type register sets over `user_id`,
    * an 'ALL' row produced by MERGING those registers (bucketwise max —
    * never re-reading raw data: the roll-up pattern that lets per-day
    * sketches aggregate to monthly distincts at 100 TB), and a
    * high-cardinality `event_id` sketch exercising the estimator in its
    * accurate regime. Everything up to the final division is integer
    * arithmetic the DuckDB oracle replays bit-for-bit (md5 hash, bitlen
    * via binary-string length, exact BIGINT harmonic sum); exact
    * `COUNT(DISTINCT)` rides along so the sketch error is visible in the
    * gated output itself.
    *
    * Scale shape: ONE map-side-combining aggregate reduces any corpus to
    * ≤ |groups|·512 register rows before the only shuffle; the merge and
    * estimate act on registers alone. The two register branches off the
    * same (g, bucket) aggregate canonicalize equal, so ReuseExchange
    * computes the per-type registers once.
    */
  def x49_hll_distinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.sketch.Hll
    val ev = eventsNs(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val perType =
      Hll.registers(ev, col("user_id"), Seq(lit("users"), col("event_type")))
    val allUsers =
      Hll.merged(perType, Seq(lit("users").as("g0"), lit("ALL").as("g1")))
    val evIds = Hll.registers(ev, col("event_id"), Seq(lit("events"), lit("ALL")))
    val est = Hll.estimate(
      perType.unionByName(allUsers).unionByName(evIds), Seq("g0", "g1"))
    val exact = ev
      .groupBy(col("event_type").as("g1"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
      .select(lit("users").as("g0"), col("g1"), col("exact_distinct"))
      .unionByName(ev.agg(countDistinct(col("user_id")).as("exact_distinct"))
        .select(lit("users").as("g0"), lit("ALL").as("g1"), col("exact_distinct")))
      .unionByName(ev.agg(countDistinct(col("event_id")).as("exact_distinct"))
        .select(lit("events").as("g0"), lit("ALL").as("g1"), col("exact_distinct")))
    est.join(exact, Seq("g0", "g1"))
      .select(col("g0").as("metric"), col("g1").as("group_key"),
        col("est_distinct"), col("exact_distinct"), col("empty_buckets"))
  }

  val x49Oracle: String =
    """WITH hu AS (
      |  SELECT event_type,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM events),
      |he AS (
      |  SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM events),
      |rt AS (
      |  SELECT 'users' AS metric, event_type AS group_key, h % 512 AS bucket,
      |    MAX(52 - (CASE WHEN h // 512 = 0 THEN 0 ELSE length(bin(h // 512)) END)) AS m_j
      |  FROM hu GROUP BY 1, 2, 3),
      |ra AS (
      |  SELECT 'users' AS metric, 'ALL' AS group_key, bucket, MAX(m_j) AS m_j
      |  FROM rt GROUP BY 1, 2, 3),
      |re AS (
      |  SELECT 'events' AS metric, 'ALL' AS group_key, h % 512 AS bucket,
      |    MAX(52 - (CASE WHEN h // 512 = 0 THEN 0 ELSE length(bin(h // 512)) END)) AS m_j
      |  FROM he GROUP BY 1, 2, 3),
      |regs AS (
      |  SELECT * FROM rt UNION ALL SELECT * FROM ra UNION ALL SELECT * FROM re),
      |est AS (
      |  SELECT metric, group_key,
      |    CAST(8.497699123215257e20 AS DOUBLE) /
      |      CAST(CAST(SUM(1::BIGINT << (52 - m_j)) AS BIGINT)
      |           + (512 - COUNT(*)) * 4503599627370496 AS DOUBLE) AS est_distinct,
      |    512 - COUNT(*) AS empty_buckets
      |  FROM regs GROUP BY 1, 2),
      |ex AS (
      |  SELECT 'users' AS metric, event_type AS group_key,
      |    COUNT(DISTINCT user_id) AS exact_distinct FROM events GROUP BY 1, 2
      |  UNION ALL SELECT 'users', 'ALL', COUNT(DISTINCT user_id) FROM events
      |  UNION ALL SELECT 'events', 'ALL', COUNT(DISTINCT event_id) FROM events)
      |SELECT est.metric, est.group_key, est_distinct, exact_distinct, empty_buckets
      |FROM est JOIN ex ON est.metric = ex.metric AND est.group_key = ex.group_key""".stripMargin

  /** Bigram-novelty scoring — the per-document complement of x24's binary
    * decontamination flag: against a REFERENCE gram set (here sources
    * src0–src9; in production the already-ingested corpus), score each
    * candidate document (src10–src19) by the fraction of its distinct
    * bigrams the reference has never seen. High-novelty docs carry new
    * content; near-zero novelty marks paraphrase/boilerplate of existing
    * data worth down-weighting before training.
    *
    * Scale shape: candidate grams dedup PER DOCUMENT with a narrow
    * `array_distinct` (no shuffle); the reference set dedups with one
    * partial-combining `distinct`; the probe is a gram-keyed equi-join —
    * declared, not forced broadcast, because a 100 TB reference gram set
    * does NOT fit in memory (x24 covers the broadcast-able case); the
    * per-doc roll-up is a partial-combining count. Join skew is bounded:
    * the reference side holds each gram ONCE, so a boilerplate gram
    * multiplies no rows.
    */
  def x50_bigram_novelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir).select(
      col("doc_id"),
      substring(col("source"), 4, 10).cast(IntegerType).as("src_i"),
      TextOps.tokens(col("text")).as("toks"))
    val ref = docs.filter(col("src_i") < 10)
      .select(explode(TextOps.ngrams(col("toks"), 2)).as("g"))
      .distinct()
      .withColumn("seen", lit(1))
    val cand = docs.filter(col("src_i") >= 10)
      .select(col("doc_id"),
        explode(array_distinct(TextOps.ngrams(col("toks"), 2))).as("g"))
    cand.join(ref, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("seen"), lit(0))).cast(LongType).as("n_seen"))
      .withColumn("novelty",
        (col("n_bigrams") - col("n_seen")).cast(DoubleType) /
          col("n_bigrams").cast(DoubleType))
  }

  val x50Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, CAST(substr(source, 4, 10) AS INT) AS src_i,
      |    string_split_regex(text, '\s+') AS w
      |  FROM documents),
      |ref AS (
      |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i + 1])) AS g
      |  FROM toks WHERE src_i < 10),
      |cand AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i + 1]))) AS g
      |  FROM toks WHERE src_i >= 10),
      |j AS (
      |  SELECT c.doc_id, CASE WHEN r.g IS NULL THEN 0 ELSE 1 END AS seen
      |  FROM cand c LEFT JOIN ref r ON c.g = r.g)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(seen) AS BIGINT) AS n_seen,
      |  CAST(COUNT(*) - CAST(SUM(seen) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
      |FROM j GROUP BY doc_id""".stripMargin

  /** Key-skew profiling — the measurement step BEFORE choosing a join
    * strategy at scale (ops/Skew.scala consumes exactly these facts:
    * a max/avg ratio near 1 → plain shuffle join; a hot key → salting or
    * AQE skew split). Profiles two keyspaces this repo joins on —
    * `lineitem.l_orderkey` and `events.user_id` — into one row each of
    * distribution stats: row/key counts, min/max/median/p99 rows per
    * key, and the skew factor max/avg.
    *
    * Scale shape: per-key counts are ONE partial-combining aggregate
    * each; the single-row roll-up reduces map-side to per-task partials.
    * Median/p99 use the q49 exact-percentile contract (ROUND(…,4) pins
    * the interpolation-arithmetic difference between engines).
    */
  def x51_skew_profile(spark: SparkSession, dir: String): DataFrame = {
    def profile(df: DataFrame, key: Column, label: String): DataFrame =
      df.groupBy(key.as("k")).agg(count(lit(1)).as("cnt"))
        .agg(
          sum(col("cnt")).as("n_rows"),
          count(lit(1)).as("n_keys"),
          max(col("cnt")).as("max_cnt"),
          min(col("cnt")).as("min_cnt"),
          round(expr("percentile(cnt, 0.5)"), 4).as("med_cnt"),
          round(expr("percentile(cnt, 0.99)"), 4).as("p99_cnt"))
        .select(
          lit(label).as("keyspace"),
          col("n_rows"), col("n_keys"), col("max_cnt"), col("min_cnt"),
          col("med_cnt"), col("p99_cnt"),
          (col("max_cnt").cast(DoubleType) /
            (col("n_rows").cast(DoubleType) / col("n_keys").cast(DoubleType)))
            .as("skew_factor"))
    profile(lineitem(spark, dir), col("l_orderkey"), "lineitem.l_orderkey")
      .unionByName(
        profile(eventsNs(spark, dir), col("user_id"), "events.user_id"))
  }

  val x51Oracle: String =
    """WITH c1 AS (SELECT l_orderkey AS k, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
      |c2 AS (SELECT user_id AS k, COUNT(*) AS cnt FROM events GROUP BY 1),
      |p1 AS (
      |  SELECT 'lineitem.l_orderkey' AS keyspace,
      |    CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
      |    MAX(cnt) AS max_cnt, MIN(cnt) AS min_cnt,
      |    ROUND(quantile_cont(cnt, 0.5), 4) AS med_cnt,
      |    ROUND(quantile_cont(cnt, 0.99), 4) AS p99_cnt
      |  FROM c1),
      |p2 AS (
      |  SELECT 'events.user_id' AS keyspace,
      |    CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
      |    MAX(cnt) AS max_cnt, MIN(cnt) AS min_cnt,
      |    ROUND(quantile_cont(cnt, 0.5), 4) AS med_cnt,
      |    ROUND(quantile_cont(cnt, 0.99), 4) AS p99_cnt
      |  FROM c2),
      |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
      |SELECT keyspace, n_rows, n_keys, max_cnt, min_cnt, med_cnt, p99_cnt,
      |  CAST(max_cnt AS DOUBLE) /
      |    (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)) AS skew_factor
      |FROM u""".stripMargin

  /** Content-defined chunking (Rabin-style, over token streams) — the
    * shift-robust complement of x26's fixed windows: a chunk boundary
    * falls BEFORE token `i` whenever the rolling 2-token hash
    * `h(w[i-1], w[i]) % 64 == 0` (expected chunk ≈ 64 tokens), so
    * inserting or deleting a sentence moves only the boundaries inside
    * the edited region and every other chunk keeps its fingerprint —
    * fixed windows would re-align the ENTIRE document and defeat
    * chunk-level dedup of near-identical files. Emits per-chunk
    * (position, length, md5 fingerprint); grouping the fingerprints is
    * x05's exact dedup applied at sub-document granularity.
    *
    * Scale shape: entirely NARROW — boundary detection, chunk slicing,
    * and fingerprinting are per-document higher-order functions plus one
    * explode; zero exchanges at any corpus size. The md5-per-token cost
    * matches x28's per-gram hashing, the proven floor for this family.
    */
  def x52_cdc_chunking(spark: SparkSession, dir: String): DataFrame = {
    val w = col("toks")
    // boundary BEFORE token i (1-based, i >= 2) when the 2-token rolling
    // hash lands in the 1/64 residue class — the native codegen'd scan
    // (graft_cdc_bounds), bit-identical to the filter-over-sequence HOF
    // it replaced (ShingleHashSpec pins parity; the interpreted lambda
    // paid a per-token md5-hex + radix parse, r18 opt). coalesce keeps
    // the old NULL-toks contract (empty bounds, not NULL).
    val bounds = coalesce(
      graft.functions.NativeFunctions.cdcBounds(w, 64L),
      array().cast(ArrayType(IntegerType)))
    val starts = concat(array(lit(1)), col("bounds"))
    val ends = concat(col("bounds"), array(size(w) + 1))
    documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("bounds", bounds)
      .withColumn("starts", starts)
      .withColumn("ends", ends)
      .select(col("doc_id"), col("toks"), col("ends"),
        posexplode(col("starts")).as(Seq("j", "start_tok")))
      .withColumn("n_tokens",
        element_at(col("ends"), col("j") + 1) - col("start_tok"))
      .select(col("doc_id"),
        (col("j") + 1).cast(LongType).as("chunk_idx"),
        col("start_tok").cast(LongType).as("start_tok"),
        col("n_tokens").cast(LongType).as("n_tokens"),
        md5(concat_ws(" ", slice(col("toks"), col("start_tok"), col("n_tokens"))))
          .as("chunk_md5"))
  }

  val x52Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      |b AS (
      |  SELECT doc_id, w,
      |    list_filter(generate_series(2, len(w)),
      |      i -> CAST(('0x' || substr(md5(w[i-1] || ' ' || w[i]), 1, 15)) AS BIGINT) % 64 = 0) AS pos
      |  FROM t),
      |s AS (
      |  SELECT doc_id, w, list_prepend(1, pos) AS starts,
      |    list_append(pos, len(w) + 1) AS ends
      |  FROM b),
      |c AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(starts)),
      |    j -> {'chunk_idx': j, 'start_tok': starts[j],
      |          'n_tokens': ends[j] - starts[j],
      |          'chunk_md5': md5(array_to_string(w[starts[j]:ends[j]-1], ' '))})) AS ch
      |  FROM s)
      |SELECT doc_id, ch.chunk_idx AS chunk_idx, ch.start_tok AS start_tok,
      |  ch.n_tokens AS n_tokens, ch.chunk_md5 AS chunk_md5
      |FROM c""".stripMargin

  /** Selective inverted index — posting lists for DISCRIMINATIVE terms
    * (document frequency in [2, 32]): the search-side artifact of a
    * corpus store. The df window is the scale contract: df ≥ 2 drops the
    * long tail of singletons (useless for cross-doc lookup), df ≤ 32
    * BOUNDS every posting list by construction, so the collect step can
    * never materialize a stopword's corpus-sized posting — the head
    * terms that would explode at 100 TB are excluded before any list is
    * built, not truncated after (the x28 window-rejection reasoning
    * applied to collection).
    *
    * Scale shape: per-doc term dedup is a narrow `array_distinct`; df is
    * one partial-combining count; the postings join is term-keyed with
    * ≤ 32 rows per surviving key (skew-free by construction); lists sort
    * deterministically before serialization (collect order is not).
    */
  def x53_inverted_index(spark: SparkSession, dir: String): DataFrame = {
    // bigram terms: this corpus' unigram vocabulary is ~31 near-ubiquitous
    // tokens (every df lands in the excluded head), while bigrams spread
    // across the discriminative band — the same reason real indexes use
    // phrases/shingles for high-precision lookup.
    // r14: the distinct (doc_id, term) pairs ARE the rows of the shared
    // [[stagedBigramTf]] artifact (x107/x113/x120's index build) — read
    // it instead of re-exploding the corpus; bucketed+sorted by term,
    // so the df statistics and the postings group-by ride the bucket
    // layout with no shuffle of the exploded corpus.
    val terms = stagedBigramTf(spark, dir).select(col("doc_id"), col("term"))
    val rare = terms.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= 32)
    terms.join(rare, Seq("term"))
      .groupBy(col("term"), col("df"))
      .agg(concat_ws(",",
        transform(sort_array(collect_list(col("doc_id"))),
          d => d.cast(StringType))).as("postings"))
      .select(col("term"), col("df"), col("postings"))
  }

  val x53Oracle: String =
    """WITH ws AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      |t AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i + 1])) AS term
      |  FROM ws),
      |rare AS (
      |  SELECT term, COUNT(*) AS df FROM t GROUP BY term
      |  HAVING COUNT(*) BETWEEN 2 AND 32)
      |SELECT t.term, rare.df,
      |  array_to_string(list_sort(list(t.doc_id)), ',') AS postings
      |FROM t JOIN rare ON t.term = rare.term
      |GROUP BY t.term, rare.df""".stripMargin

  /** Mergeable histogram-quantile sketch — the bounded-state twin of
    * q49's exact percentiles, with a DuckDB-replayable construction
    * (unlike `approx_percentile`'s GK sketch): values land in fixed
    * 500-wide bins with ONE partial-combining count per (group, bin),
    * an 'ALL' row merges groups by ADDING bin counts (histograms are
    * trivially mergeable — the per-day→monthly rollup again), and the
    * p50/p95 lower-bound estimates read off the cumulative histogram in
    * PURE INTEGER arithmetic (`2·cum ≥ total`, `20·cum ≥ 19·total` —
    * no ratio ever hits a float). Accuracy is ± one bin width by
    * construction, visible against q49's exact values.
    *
    * Scale shape: any data volume reduces map-side to ≤ |groups|·|bins|
    * register rows; the cumulative window runs over that register frame,
    * never over raw rows.
    */
  def x54_histogram_quantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = lineitem(spark, dir)
      .select(col("l_returnflag").as("g"),
        floor(col("l_extendedprice") / 500.0).cast(LongType).as("bin"))
    val perFlag = binned.groupBy(col("g"), col("bin")).agg(count(lit(1)).as("n"))
    val merged = perFlag.groupBy(col("bin"))
      .agg(sum(col("n")).as("n")).select(lit("ALL").as("g"), col("bin"), col("n"))
    val regs = perFlag.unionByName(merged)
    val cum = Window.partitionBy(col("g")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("g"))
    regs
      .withColumn("cum", sum(col("n")).over(cum))
      .withColumn("total", sum(col("n")).over(tot))
      .groupBy(col("g"))
      .agg(
        max(col("total")).as("total"),
        count(lit(1)).as("n_bins"),
        (min(when(col("cum") * 2 >= col("total"), col("bin"))) * 500)
          .as("p50_lo"),
        (min(when(col("cum") * 20 >= col("total") * 19, col("bin"))) * 500)
          .as("p95_lo"))
  }

  val x54Oracle: String =
    """WITH binned AS (
      |  SELECT l_returnflag AS g,
      |    CAST(floor(l_extendedprice / 500.0) AS BIGINT) AS bin
      |  FROM lineitem),
      |pf AS (SELECT g, bin, COUNT(*) AS n FROM binned GROUP BY g, bin),
      |m AS (SELECT 'ALL' AS g, bin, CAST(SUM(n) AS BIGINT) AS n FROM pf GROUP BY bin),
      |regs AS (SELECT * FROM pf UNION ALL SELECT * FROM m),
      |c AS (
      |  SELECT g, bin, n,
      |    CAST(SUM(n) OVER (PARTITION BY g ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(SUM(n) OVER (PARTITION BY g) AS BIGINT) AS total
      |  FROM regs)
      |SELECT g, MAX(total) AS total, COUNT(*) AS n_bins,
      |  MIN(CASE WHEN cum * 2 >= total THEN bin END) * 500 AS p50_lo,
      |  MIN(CASE WHEN cum * 20 >= total * 19 THEN bin END) * 500 AS p95_lo
      |FROM c GROUP BY g""".stripMargin

  /** BPE merge-pair counts — the first iteration of byte-pair-encoding
    * vocabulary induction, the tokenizer-training primitive a data engine
    * feeds: count adjacent CHARACTER pairs across the corpus, weighted by
    * word frequency (distinct from x20/x50, which count word-level
    * n-grams). Scale shape: the corpus collapses to its word-frequency
    * table FIRST (map-side-combining count on a key whose cardinality is
    * the vocabulary, not the token stream), then pair explosion runs over
    * DISTINCT WORDS ONLY — at 100 TB the explode is |vocab| × avg_len,
    * millions of rows, not the trillions a per-token explode would cost.
    * One shuffle for the word count, one for the pair sum; threshold
    * prunes the tail before the result materializes. */
  def x55_bpe_merge_pairs(spark: SparkSession, dir: String): DataFrame = {
    val words = documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wf"))
    words
      .select(col("wf"), explode(expr(
        "transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wf")).cast(LongType).as("n"))
      .filter(col("n") >= 50)
  }

  val x55Oracle: String =
    """WITH toks AS (
      |  SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |wf AS (
      |  SELECT w, COUNT(*) AS wf FROM toks WHERE length(w) >= 2 GROUP BY w),
      |p AS (
      |  SELECT wf, unnest(list_transform(
      |    generate_series(1, length(w) - 1), i -> w[i:i+1])) AS pair
      |  FROM wf)
      |SELECT pair, CAST(SUM(wf) AS BIGINT) AS n
      |FROM p GROUP BY pair HAVING SUM(wf) >= 50""".stripMargin

  /** Directional containment audit over the STAGED near-dup pairs — the
    * quote/subset detector Jaccard hides: a short document fully
    * contained in a long one scores low Jaccard but containment ≈ 1 on
    * the short side (the signal used to catch excerpt-duplicates and
    * train/eval quote contamination). Second consumer of
    * [[stagedLshScoredPairs]]: the LSH pipeline ran once at staging; this
    * audit re-joins shingle sets for the CANDIDATE ids only (broadcast —
    * the candidate set is the tiny survivor of band bucketing) and adds
    * two integer-ratio columns. At 100 TB each new audit over the pair
    * frame stays candidate-sized, never corpus-sized. */
  def x56_containment_audit(spark: SparkSession, dir: String): DataFrame = {
    val pairs = stagedLshScoredPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val ids = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // sh feeds BOTH join sides — cache so the candidate shingle sets
    // (md5-heavy) compute once, not once per side (the x06 candSh rule);
    // the tiny result is materialized so the cache frees before return
    val sh = documents(spark, dir).join(broadcast(ids), Seq("doc_id"))
      .select(col("doc_id"), DedupOps.shingles(col("text"), 3).as("sh"))
      .cache()
    val res = pairs
      .join(sh.toDF("doc_a", "sh_a"), "doc_a")
      .join(sh.toDF("doc_b", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("n_common"),
        size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_common").cast(DoubleType) / col("n_a").cast(DoubleType))
          .as("containment_a"),
        (col("n_common").cast(DoubleType) / col("n_b").cast(DoubleType))
          .as("containment_b"))
      .localCheckpoint(true)
    sh.unpersist()
    res
  }

  val x56Oracle: String =
    s"""WITH $lshScoredCtes,
       |cont AS (
       |  SELECT s.doc_a, s.doc_b,
       |    len(list_intersect(x.sh, y.sh)) AS n_common,
       |    len(x.sh) AS n_a, len(y.sh) AS n_b
       |  FROM scored s
       |  JOIN sh x ON x.doc_id = s.doc_a
       |  JOIN sh y ON y.doc_id = s.doc_b)
       |SELECT doc_a, doc_b,
       |  CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment_a,
       |  CAST(n_common AS DOUBLE) / CAST(n_b AS DOUBLE) AS containment_b
       |FROM cont""".stripMargin

  /** Count-min sketch heavy hitters — completes the mergeable-sketch
    * family (x49 HLL distinct, x54 histogram quantiles, x57 CMS
    * frequency): d=4 md5-derived hash rows × w=1024 counters over the
    * token stream, then the true top-10 tokens' frequencies estimated
    * by the min-over-rows read. The output carries BOTH the exact count
    * and the estimate, so the gate checks the CMS guarantee numerically
    * (est ≥ true always; the spec pins the inequality, the oracle pins
    * the exact registers). Scale shape: the sketch is a map-side-
    * combining count to ≤ d×w registers per task — merge of two corpus
    * shards is element-wise ADD, so 100 TB builds it in one pass and
    * the estimate read touches 4 registers per probe token, never the
    * corpus. */
  def x57_countmin_heavy_hitters(spark: SparkSession, dir: String): DataFrame = {
    val d = 4
    val w = 1024
    val toks = documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    // collapse the token STREAM to its frequency table first (the x55
    // discipline): the d-way register explode then runs over the
    // vocabulary, not the corpus — counts are linear, so summing wf per
    // register equals counting raw occurrences. Cached: the frequency
    // table feeds both the register build and the top-k probe.
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("wf")).cache()
    val rows = array((0 until d).map(lit): _*)
    val sketch = freq
      .select(col("wf"), explode(rows).as("r"), col("tok"))
      .select(col("wf"), col("r"),
        pmod(TextOps.stableHash64(concat_ws("|", col("r"), col("tok"))), lit(w))
          .as("bucket"))
      .groupBy(col("r"), col("bucket")).agg(sum(col("wf")).as("n"))
    val top = freq.select(col("tok"), col("wf").as("true_n"))
      .orderBy(col("true_n").desc, col("tok")).limit(10)
    // probe: 10 tokens × d rows against the ≤4096-row register table —
    // both sides broadcast-sized at ANY corpus scale. The tiny result is
    // materialized so the vocabulary cache can be freed before return
    // (the x06 rule: callers must not inherit an operator's working set).
    val res = top
      .select(col("tok"), col("true_n"), explode(rows).as("r"))
      .withColumn("bucket",
        pmod(TextOps.stableHash64(concat_ws("|", col("r"), col("tok"))), lit(w)))
      .join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy(col("tok"))
      .agg(max(col("true_n")).as("true_n"), min(col("n")).as("est_n"))
      .localCheckpoint(true)
    freq.unpersist()
    res
  }

  val x57Oracle: String =
    """WITH toks AS (
      |  SELECT unnest(string_split_regex(text, '\s+')) AS tok
      |  FROM documents),
      |t AS (SELECT tok FROM toks WHERE tok <> ''),
      |sk AS (
      |  SELECT s.r,
      |    CAST(('0x' || substr(md5(s.r || '|' || tok), 1, 15)) AS BIGINT) % 1024 AS bucket,
      |    COUNT(*) AS n
      |  FROM t, generate_series(0, 3) s(r) GROUP BY 1, 2),
      |top AS (
      |  SELECT tok, COUNT(*) AS true_n FROM t GROUP BY tok
      |  ORDER BY true_n DESC, tok LIMIT 10),
      |probe AS (
      |  SELECT top.tok, top.true_n, s.r,
      |    CAST(('0x' || substr(md5(s.r || '|' || top.tok), 1, 15)) AS BIGINT) % 1024 AS bucket
      |  FROM top, generate_series(0, 3) s(r))
      |SELECT p.tok, MAX(p.true_n) AS true_n, MIN(sk.n) AS est_n
      |FROM probe p JOIN sk ON sk.r = p.r AND sk.bucket = p.bucket
      |GROUP BY p.tok""".stripMargin

  /** Sketch-pruned per-group top-k — the 100 TB shape for "best k
    * documents per source": a naive rank window sorts EVERY source's
    * full document set; here a histogram sketch (the x54 register
    * family: one map-side-combining count per (source, length-bin))
    * first finds, per source, the lowest bin whose from-the-top
    * cumulative count still holds k documents, and the rank window runs
    * only over the survivors of that cutoff — bin-width-bounded, ~k per
    * source instead of the whole corpus. The prune is EXACT by
    * construction (everything above the cutoff bin is kept, and the
    * cutoff bin still contains the k-th document), so the output equals
    * the unpruned top-k and the oracle replays the naive form. Plan
    * shape: two partial-combining aggregates + one broadcast of the
    * per-source cutoffs + one window over the pruned frame (pinned). */
  def x58_topk_per_source(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 10
    val binW = 50L
    val docs = documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val cutoffs = docs
      .select(col("source"),
        (call_function("div", col("n_chars").cast(LongType), lit(binW)) * binW)
          .as("bin_lo"))
      .groupBy(col("source"), col("bin_lo")).agg(count(lit(1)).as("n"))
      .withColumn("cum_from_top",
        sum(col("n")).over(Window.partitionBy(col("source"))
          .orderBy(col("bin_lo").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // a source with < k docs never reaches cum >= k: fall back to its
      // lowest bin (prune nothing for that source, exactness over savings)
      .groupBy(col("source"))
      .agg(coalesce(
        max(when(col("cum_from_top") >= k, col("bin_lo"))),
        min(col("bin_lo"))).as("cutoff"))
    docs
      .join(broadcast(cutoffs), Seq("source"))
      .filter(col("n_chars") >= col("cutoff"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("source"), col("doc_id"), col("n_chars"), col("rk"))
  }

  val x58Oracle: String =
    """WITH r AS (
      |  SELECT source, doc_id, n_chars,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS INT) AS rk
      |  FROM documents)
      |SELECT source, doc_id, n_chars, rk FROM r WHERE rk <= 10""".stripMargin

  /** Balanced shard assignment — the output-sharding step that turns a
    * curated corpus into N training shards of near-equal token mass
    * (webdataset/tfrecord writers want balanced files, not balanced row
    * counts): serpentine round-robin over the size-descending order —
    * batch 0 deals shards 0..S-1, batch 1 deals S-1..0, so each shard
    * receives one document per batch and the big-vs-small skew
    * alternates sides. Deterministic (ties broken by doc_id), exactly
    * reproducible in SQL, and the balance guarantee is spec-pinned
    * (max/min shard mass ratio). Scale shape: the global rank is the
    * x34 TWO-PHASE machinery, never one partition-less window (which
    * would single-task the corpus — the x25 killer): rows window over a
    * bounded bucket key, bucket totals get the only partition-less scan,
    * offsets broadcast back. The bucket is (inverted token count, doc-id
    * chunk) — monotone along the (n_tokens DESC, doc_id) order, each
    * bucket ≤ 4096 rows, and the totals frame is bounded by
    * max-document-length + corpus/4096 rows, orders of magnitude under
    * the corpus. The serpentine arithmetic is a narrow projection. */
  def x59_balanced_shards(spark: SparkSession, dir: String): DataFrame = {
    val sized = documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).cast(LongType).as("n_tokens"))
    serpentineShards(sized, 16, "x59")
  }

  /** The x59 serpentine machinery with a pluggable SIZE column (`sized`
    * carries doc_id, source, n_tokens): whitespace words for x59,
    * learned-BPE subwords for x83 — the budget denomination changes,
    * the balanced-sharding shape does not.
    *
    * Fixed-width string key: (1e9 − n_tokens) ‖ doc_id/4096 sorts
    * lexicographically as (n_tokens desc, doc_id asc); within a bucket
    * n_tokens is constant, so doc_id alone orders the rows. A document
    * past the 1e9-token key width would flip negtok negative and break
    * the lexicographic invariant SILENTLY — fail loudly instead (the
    * hierarchyClosure convention; 1e9 subword tokens ≈ 4 GB of text in
    * one row, a data-quality signal, not a tuning knob). */
  private def serpentineShards(sized: DataFrame, s: Int,
      qname: String): DataFrame = {
    val keyed = sized
      .withColumn("__graft_negtok",
        when(col("n_tokens") > lit(1000000000L), raise_error(concat(
          lit(s"$qname: n_tokens exceeds the 1e9 shard-key width: "),
          col("n_tokens").cast(StringType))).cast(LongType))
          .otherwise(lit(1000000000L) - col("n_tokens")))
      .withColumn("__graft_bucket",
        concat(lpad(col("__graft_negtok").cast(StringType), 10, "0"), lit("|"),
          lpad(call_function("div", col("doc_id"), lit(4096L)).cast(StringType),
            13, "0")))
      .withColumn("__graft_one", lit(1L))
    graft.text.CorpusOps.twoPhasePrefixSum(keyed, Seq.empty, "__graft_bucket",
        Seq("__graft_negtok", "doc_id"), "__graft_one", "__graft_rank")
      .withColumn("rn", col("__graft_rank") - 1L)
      .withColumn("shard",
        when(pmod(call_function("div", col("rn"), lit(s.toLong)), lit(2L)) === 0,
          pmod(col("rn"), lit(s.toLong)))
          .otherwise(lit(s.toLong - 1) - pmod(col("rn"), lit(s.toLong))))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("shard").cast(IntegerType).as("shard"))
  }

  val x59Oracle: String =
    """WITH sized AS (
      |  SELECT doc_id, source,
      |    CASE WHEN length(text) = 0 THEN 0
      |         ELSE len(string_split_regex(text, '\s+')) END AS n_tokens
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
      |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rn
      |  FROM sized)
      |SELECT doc_id, source, n_tokens,
      |  CAST(CASE WHEN (rn // 16) % 2 = 0 THEN rn % 16
      |       ELSE 15 - rn % 16 END AS INT) AS shard
      |FROM r""".stripMargin

  /** Per-source quality-percentile calibration — the cross-source score
    * normalization a mixed-corpus filter needs: raw quality proxies
    * (here the n_chars length signal) are NOT comparable across sources
    * with different length distributions, so each document's score maps
    * to its percentile WITHIN its source before any global threshold.
    * Scale shape: the per-source rank is the x34/x59 two-phase machinery
    * partitioned by source — rank windows key on (source, score-band ×
    * id-chunk) buckets, never on the source alone (one task per source
    * at 100× — the x25 killer); per-source totals broadcast back for
    * the percentile division. `keep` previews the calibrated filter
    * (top half per source), which a raw global length cut would bias
    * toward the verbose sources. */
  def x60_quality_calibration(spark: SparkSession, dir: String): DataFrame = {
    val sized = documents(spark, dir)
      .select(col("doc_id"), col("source"),
        col("n_chars").cast(LongType).as("n_chars"))
    // bucket = score-band × id-chunk, monotone along (n_chars, doc_id)
    // within each source; a band is one exact value so the id-chunk
    // sub-bucket stays monotone (the x59 key construction, ascending).
    // Same fail-loudly width guard as x59: a score past the 10-digit
    // lpad would sort lexicographically wrong with no error.
    val guarded = when(col("n_chars") > lit(9999999999L), raise_error(concat(
        lit("x60: n_chars exceeds the 10-digit band-key width: "),
        col("n_chars").cast(StringType))).cast(LongType))
      .otherwise(col("n_chars"))
    val keyed = sized
      .withColumn("__graft_bucket",
        concat(lpad(guarded.cast(StringType), 10, "0"), lit("|"),
          lpad(call_function("div", col("doc_id"), lit(4096L)).cast(StringType),
            13, "0")))
      .withColumn("__graft_one", lit(1L))
    val ranked = graft.text.CorpusOps.twoPhasePrefixSum(keyed, Seq("source"),
      "__graft_bucket", Seq("n_chars", "doc_id"), "__graft_one", "__graft_rank")
    val totals = sized.groupBy(col("source")).agg(count(lit(1)).as("__graft_n"))
    ranked
      .join(broadcast(totals), Seq("source"))
      .withColumn("pct",
        col("__graft_rank").cast(DoubleType) / col("__graft_n").cast(DoubleType))
      .withColumn("keep", col("pct") > 0.5)
      .select(col("doc_id"), col("source"), col("n_chars"), col("pct"), col("keep"))
  }

  /** The corpus word-frequency table as a [[graft.ops.Staged]] bucketed
    * table — the TOKENIZER-ARTIFACT lifecycle: the corpus is tokenized
    * once per (dataset content, build), and every consumer after that
    * (merge learning, vocabulary encoding, per-doc subword counting)
    * reads the staged vocabulary instead of re-exploding the token
    * stream. Bucketed and bucket-sorted on `w` so corpus-token →
    * vocabulary joins co-locate without an exchange on the staged side. */
  def stagedWordFreq(spark: SparkSession, dir: String): DataFrame =
    Staged.tables(spark, Staged.Stage("wordfreq", dir, Seq("documents.parquet")))(
      new Staged.Table("wf", "w",
        graft.text.Bpe.wordFrequency(documents(spark, dir)))).head

  /** BPE merge APPLY — closes the tokenization loop x55 opened: learn the
    * top-24 merge ranks from the staged vocabulary's pair statistics
    * (x55's definition) and ENCODE every distinct word into its subword
    * sequence ([[graft.text.Bpe]] — greedy rank-order left-to-right
    * apply, Sennrich et al. 2016). Output is the encoded vocabulary:
    * word, corpus frequency, and the subword segmentation whose counts
    * are what packing (x30), token-budget mixing (x46) and shard
    * balancing (x59) should budget on instead of whitespace tokens.
    *
    * Scale shape: the corpus is tokenized ZERO times here — both the
    * learning aggregate and the encode projection read
    * [[stagedWordFreq]] (vocabulary-sized, staged once per dataset
    * content); the merge table is a bounded driver-side collect (24
    * rows, the IVF-centroid convention) that becomes 24 chained literal
    * codegen'd `replace` calls — ONE map-only projection, zero
    * exchanges (PlanShapeSpec-pinned). DuckDB replays the exact encode
    * as a recursive CTE applying merge rank r at round r. */
  def x61_bpe_encode(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Bpe
    val wf = stagedWordFreq(spark, dir)
    val merges = Bpe.learnMerges(wf, 24)
    wf.select(col("w"), col("wf"),
        Bpe.subwords(Bpe.applyMerges(Bpe.wrap(col("w")), merges)).as("sub"))
      .select(col("w"), col("wf").cast(LongType).as("wf"),
        length(col("w")).as("n_chars"),
        size(col("sub")).as("n_subwords"),
        concat_ws(" ", col("sub")).as("subwords"))
  }

  val x61Oracle: String =
    """WITH RECURSIVE toks AS (
      |  SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |wf AS (
      |  SELECT w, COUNT(*) AS wf FROM toks
      |  WHERE w <> '' AND NOT contains(w, chr(31)) GROUP BY w),
      |p AS (
      |  SELECT wf, unnest(list_transform(
      |    generate_series(1, length(w) - 1), i -> w[i:i+1])) AS pair
      |  FROM wf WHERE length(w) >= 2),
      |ps AS (SELECT pair, SUM(wf) AS n FROM p GROUP BY pair),
      |merges AS (
      |  SELECT pair, CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rk
      |  FROM ps ORDER BY n DESC, pair LIMIT 24),
      |enc AS (
      |  SELECT w, wf,
      |    chr(31) || regexp_replace(w, '(.)', '\1' || chr(31) || chr(31), 'g') AS s,
      |    0 AS r
      |  FROM wf
      |  UNION ALL
      |  SELECT e.w, e.wf,
      |    replace(e.s,
      |      chr(31) || m.pair[1] || chr(31) || chr(31) || m.pair[2] || chr(31),
      |      chr(31) || m.pair || chr(31)),
      |    e.r + 1
      |  FROM enc e JOIN merges m ON m.rk = e.r + 1),
      |fin AS (
      |  SELECT w, wf, list_filter(string_split(s, chr(31)), x -> x <> '') AS sub
      |  FROM enc WHERE r = (SELECT COUNT(*) FROM merges))
      |SELECT w, CAST(wf AS BIGINT) AS wf, length(w) AS n_chars,
      |  len(sub) AS n_subwords, array_to_string(sub, ' ') AS subwords
      |FROM fin""".stripMargin

  /** Exact-substring dedup with REMOVAL — the other half of the Lee et
    * al. pipeline x28 started: x28 reports which documents carry
    * duplicated 8-gram runs; this emits the CLEANED TEXT with every
    * covered token excised ([[graft.text.CorpusOps.dupSpanRemoval]]),
    * the artifact a curation pipeline actually ships. A position is
    * covered when any 8-gram instance through it occurs >1× in the
    * corpus (x28's duplication signal at instance granularity).
    * Scale shape: gram totals partial-combine in a hash aggregate
    * (never a gram window), the per-doc covered set is bounded by the
    * document's own length, and reconstruction is a LINEAR
    * complement-gap slice HOF — no per-token membership scan. The
    * oracle replays the same span subtraction positionally. */
  def x62_substring_clean(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusOps.dupSpanRemoval(documents(spark, dir), "doc_id", "text", n = 8)
      .withColumn("removed_frac",
        when(col("n_tokens") > 0,
          col("n_removed").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .otherwise(lit(0.0)))

  val x62Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, text, string_split_regex(text, '\s+') AS w FROM documents),
      |u AS (
      |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
      |  FROM t WHERE len(w) >= 8),
      |g AS (
      |  SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS gram FROM u),
      |cg AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram),
      |ds AS (SELECT g.doc_id, g.i FROM g JOIN cg USING (gram) WHERE cnt > 1),
      |cov AS (
      |  SELECT DISTINCT doc_id, i + d AS pos
      |  FROM ds CROSS JOIN range(0, 8) s(d)),
      |cn AS (SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id),
      |tok AS (
      |  SELECT doc_id, unnest(w) AS tok,
      |    unnest(generate_series(1, len(w))) AS pos
      |  FROM t),
      |kept AS (
      |  SELECT k.doc_id, k.pos, k.tok
      |  FROM tok k LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos
      |  WHERE c.pos IS NULL),
      |agg AS (
      |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
      |  FROM kept GROUP BY doc_id),
      |base AS (
      |  SELECT d.doc_id,
      |    CAST(CASE WHEN length(d.text) = 0 THEN 0
      |         ELSE len(string_split_regex(d.text, '\s+')) END AS BIGINT) AS n_tokens,
      |    CAST(coalesce(cn.n_removed, 0) AS BIGINT) AS n_removed,
      |    coalesce(a.text_clean, '') AS text_clean
      |  FROM documents d
      |  LEFT JOIN cn ON cn.doc_id = d.doc_id
      |  LEFT JOIN agg a ON a.doc_id = d.doc_id)
      |SELECT doc_id, n_tokens, n_removed, text_clean,
      |  CASE WHEN n_tokens > 0
      |       THEN CAST(n_removed AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |       ELSE 0.0 END AS removed_frac
      |FROM base""".stripMargin

  /** Deterministic messy crawl URL for x63/x79 — the testdata carries no
    * URL column, so one is derived per document: scheme case, `www.`,
    * default port, trailing slash and query-param order all vary by
    * doc_id, and the HOST SUFFIX varies by source id mod 4 so every
    * branch of [[graft.text.UrlOps.registeredDomain]]'s public-suffix
    * lookup is exercised end-to-end: `.ORG` (no PSL rule — last-2-label
    * fallback), `.CO.UK` (2-label ICANN rule), `.GitHub.IO` (2-label
    * private-section rule), `.NSW.edu.AU` (3-label rule). Documents of
    * one (source, lang) still collapse to a single canonical URL;
    * sources of one suffix class sharing a lang share one registered
    * domain, so the domain key has real cross-source fan-in. */
  private def messyCrawlUrl: Column = {
    val srcNum = substring(col("source"), 4, 10).cast(LongType)
    concat(
      when(pmod(col("doc_id"), lit(3L)) === 0, lit("HTTPS"))
        .otherwise(lit("https")),
      lit("://"),
      when(pmod(col("doc_id"), lit(2L)) === 0, lit("WWW.")).otherwise(lit("")),
      col("source"), lit("."), col("lang"), lit("-corpus"),
      when(pmod(srcNum, lit(4L)) === 0, lit(".ORG"))
        .when(pmod(srcNum, lit(4L)) === 1, lit(".CO.UK"))
        .when(pmod(srcNum, lit(4L)) === 2, lit(".GitHub.IO"))
        .otherwise(lit(".NSW.edu.AU")),
      when(pmod(col("doc_id"), lit(5L)) === 0, lit(":443")).otherwise(lit("")),
      lit("/docs/"), col("lang"),
      when(pmod(col("doc_id"), lit(4L)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(2L)) === 0, lit("?b=2&a=1"))
        .otherwise(lit("?a=1&b=2")))
  }

  /** Oracle twin of [[messyCrawlUrl]] (spliced into x63/x79 SQL). */
  private lazy val messyCrawlUrlSql: String =
    """(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
      |    (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
      |    source || '.' || lang || '-corpus' ||
      |    (CASE CAST(substr(source, 4) AS INT) % 4
      |       WHEN 0 THEN '.ORG' WHEN 1 THEN '.CO.UK'
      |       WHEN 2 THEN '.GitHub.IO' ELSE '.NSW.edu.AU' END) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
      |    '/docs/' || lang ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1' ELSE '?a=1&b=2' END)""".stripMargin

  /** Public-suffix rules CTEs shared by the x63/x79/x87 oracles — the
    * SQL twin of the engine's composed resolution: the hot-snapshot
    * slices ([[graft.text.PublicSuffix]], the `InSet` path) plus the
    * long-tail slices ([[graft.text.PublicSuffixTable.tailRules]], the
    * broadcast-join path), so the oracle replays the IDENTICAL bundled
    * rule table in the IDENTICAL precedence. */
  private lazy val pslCtesSql: String =
    "psl2(r) AS (VALUES " +
      graft.text.PublicSuffix.sqlValues(graft.text.PublicSuffix.rules2) +
      "),\npsl3(r) AS (VALUES " +
      graft.text.PublicSuffix.sqlValues(graft.text.PublicSuffix.rules3) +
      "),\npslw1(r) AS (VALUES " +
      graft.text.PublicSuffix.sqlValues(graft.text.PublicSuffix.wildcardTlds) +
      "),\npslw2(r) AS (VALUES " +
      graft.text.PublicSuffix.sqlValues(graft.text.PublicSuffix.wildcardParents2) +
      "),\npslx2(r) AS (VALUES " +
      graft.text.PublicSuffix.sqlValues(graft.text.PublicSuffix.exceptions2) +
      "),\npslx3(r) AS (VALUES " +
      graft.text.PublicSuffix.sqlValues(graft.text.PublicSuffix.exceptions3) +
      "),\n" + graft.text.PublicSuffixTable.sqlRuleCtes(
        graft.text.PublicSuffixTable.tailRules, "pslt")

  /** Full-list registered-domain SQL: the long-tail CASE coalesced
    * over the hot-snapshot CASE — the mirror of
    * [[graft.text.UrlOps.withRegisteredDomain]]. */
  private def pslFullDomainSql(hostExpr: String): String =
    "COALESCE(" + graft.text.PublicSuffixTable.sqlCaseFor(hostExpr,
      graft.text.PublicSuffixTable.tailRules, "pslt") + ",\n      " +
      graft.text.PublicSuffix.sqlRegisteredDomain(hostExpr) + ")"

  /** URL/host canonicalization + domain-level dedup — standard web-corpus
    * curation: normalize scheme/host case, default ports, `www.`,
    * trailing slashes and query-parameter order ([[graft.text.UrlOps]],
    * all codegen'd built-ins), dedup at the canonical-URL key (keep the
    * lowest doc_id), then cap each registered domain at 4 canonical
    * URLs. The domain key is public-suffix-aware
    * ([[graft.text.PublicSuffix]]): `a.co.uk` and `b.co.uk` are
    * DIFFERENT domains while `x.en-corpus.co.uk` pages share one — the
    * distinction a last-2-label key gets wrong. Raw URLs come from
    * [[messyCrawlUrl]]; the oracle derives the identical strings and
    * joins the identical rule table.
    * Scale shape: canonicalization is narrow per-row work fused into the
    * scan; URL dedup is one hash aggregate (map-side-combined min); the
    * per-domain rank is the banded two-phase prefix sum — never a bare
    * domain window, because one giant domain (the web has those) would
    * otherwise serialize into a single task at 100×. */
  def x63_url_domain_dedup(spark: SparkSession, dir: String): DataFrame =
    x63UrlDedupPipeline(spark, dir, dedupeFlagged = true)

  /** x63 with the flagged-frame checkpoint optional, so PlanShapeSpec
    * can pin the dedup/rank plan shape that `localCheckpoint` erases
    * from the public query (the x106/q79/x72 pattern). */
  private[graft] def x63UrlDedupPipeline(spark: SparkSession, dir: String,
      dedupeFlagged: Boolean): DataFrame = {
    import graft.text.UrlOps
    val raw = documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"))
      .withColumn("url_raw", messyCrawlUrl)
    // canonicalization (a regex pile) + the 4-level PSL broadcast chain
    // is the expensive narrow work here, and `flagged` feeds THREE
    // consumers (both legs of the final join + the ranked path): cache
    // the canon pass and checkpoint the slim flagged frame so the PSL
    // chain runs ONCE, not 3-4× (the before-plan held 12 parquet scans
    // of the same chain; guide §5 reuse-over-recompute — r18 opt)
    val canon = UrlOps.withRegisteredDomain(raw, col("url_raw"), "domain")
      .select(col("doc_id"),
        UrlOps.canonicalize(col("url_raw")).as("url_canon"), col("domain"))
    val canonC = if (dedupeFlagged) canon.cache() else canon
    val keepers = canonC.groupBy(col("url_canon"))
      .agg(min(col("doc_id")).as("__graft_keeper"))
    val flagged0 = canonC.join(keepers, Seq("url_canon"))
      .withColumn("url_keep", col("doc_id") === col("__graft_keeper"))
    val flagged =
      if (dedupeFlagged) {
        val f = flagged0.localCheckpoint(true)
        canonC.unpersist()
        f
      } else flagged0
    val keyed = flagged.filter(col("url_keep"))
      .withColumn("__graft_bucket",
        lpad(call_function("div", col("doc_id"), lit(4096L)).cast(StringType),
          13, "0"))
      .withColumn("__graft_one", lit(1L))
    val ranked = graft.text.CorpusOps.twoPhasePrefixSum(keyed, Seq("domain"),
        "__graft_bucket", Seq("doc_id"), "__graft_one", "__graft_rank")
      .select(col("doc_id").as("__graft_kid"),
        (col("__graft_rank") <= 4L).as("__graft_dk"))
    flagged.join(ranked, flagged("doc_id") === ranked("__graft_kid"), "left")
      .select(col("doc_id"), col("url_canon"), col("domain"), col("url_keep"),
        coalesce(col("__graft_dk"), lit(false)).as("domain_keep"))
  }

  val x63Oracle: String =
    "WITH " + pslCtesSql + ",\n" +
    """u AS (
      |  SELECT doc_id,
      |    """.stripMargin + messyCrawlUrlSql + " AS url_raw\n" +
    """  FROM documents),
      |p AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(url_raw, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
      |    lower(regexp_extract(url_raw, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hp,
      |    regexp_extract(url_raw, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS pth,
      |    regexp_extract(url_raw, '\?([^#]*)', 1) AS qry
      |  FROM u),
      |c AS (
      |  SELECT doc_id, sch,
      |    regexp_replace(
      |      CASE WHEN sch = 'https' THEN regexp_replace(hp, ':443$', '')
      |           WHEN sch = 'http' THEN regexp_replace(hp, ':80$', '')
      |           ELSE hp END, '^www\.([^.]+\..+)', '\1') AS host,
      |    CASE WHEN regexp_replace(pth, '/+$', '') = '' THEN '/'
      |         ELSE regexp_replace(pth, '/+$', '') END AS cpath,
      |    CASE WHEN qry = '' THEN ''
      |         ELSE '?' || array_to_string(list_sort(string_split(qry, '&')), '&') END AS cq
      |  FROM p),
      |canon AS (
      |  SELECT doc_id, sch || '://' || host || cpath || cq AS url_canon,
      |    """.stripMargin +
    pslFullDomainSql("host") + " AS domain\n" +
    """  FROM c),
      |k AS (SELECT url_canon, min(doc_id) AS keeper FROM canon GROUP BY url_canon),
      |f AS (
      |  SELECT c2.doc_id, c2.url_canon, c2.domain, c2.doc_id = k.keeper AS url_keep
      |  FROM canon c2 JOIN k ON c2.url_canon = k.url_canon),
      |r AS (
      |  SELECT doc_id, row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
      |  FROM f WHERE url_keep)
      |SELECT f.doc_id, f.url_canon, f.domain, f.url_keep,
      |  coalesce(r.rk <= 4, FALSE) AS domain_keep
      |FROM f LEFT JOIN r ON f.doc_id = r.doc_id""".stripMargin

  /** Per-document SUBWORD budget — the unit a real pipeline packs and
    * mixes on: each document's token stream priced in x61's learned BPE
    * segmentation (n_bpe_tokens) next to the whitespace count the older
    * budgeters used, plus the expansion ratio between them. Closes the
    * loop the round-9 brief opened: x30 packing / x46 budget mixing /
    * x59 shard balancing can now take `n_bpe_tokens` as their size
    * column with no further machinery ([[graft.text.Bpe.docSubwordCounts]]).
    * Scale shape: the encode runs over the staged VOCABULARY (x61 —
    * vocabulary-sized, never corpus-sized) and the per-word subword
    * count broadcasts into the corpus token join; per-doc sums
    * partial-combine before the one doc_id exchange. */
  def x67_subword_budget(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Bpe
    val wf = stagedWordFreq(spark, dir)
    val merges = Bpe.learnMerges(wf, 24)
    val enc = wf.select(col("w"),
        Bpe.subwords(Bpe.applyMerges(Bpe.wrap(col("w")), merges)).as("sub"))
      .select(col("w"), size(col("sub")).as("n_subwords"))
    Bpe.docSubwordCounts(documents(spark, dir), broadcast(enc))
      .select(col("doc_id"), col("n_ws_tokens"),
        col("n_bpe_tokens").cast(LongType).as("n_bpe_tokens"))
      .withColumn("expansion",
        col("n_bpe_tokens").cast(DoubleType) / col("n_ws_tokens").cast(DoubleType))
  }

  /** Shared oracle CTE chain ending in `per(doc_id, n_ws_tokens,
    * n_bpe_tokens, expansion)` — the per-document learned-BPE subword
    * budget (x67's pipeline), reused by every subword-denominated
    * oracle (x67/x68/x82/x83). Callers prepend `WITH RECURSIVE `. */
  private lazy val subwordPerDocCtes: String =
    """toks AS (
      |  SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |wf AS (
      |  SELECT w, COUNT(*) AS wf FROM toks
      |  WHERE w <> '' AND NOT contains(w, chr(31)) GROUP BY w),
      |p AS (
      |  SELECT wf, unnest(list_transform(
      |    generate_series(1, length(w) - 1), i -> w[i:i+1])) AS pair
      |  FROM wf WHERE length(w) >= 2),
      |ps AS (SELECT pair, SUM(wf) AS n FROM p GROUP BY pair),
      |merges AS (
      |  SELECT pair, CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rk
      |  FROM ps ORDER BY n DESC, pair LIMIT 24),
      |enc AS (
      |  SELECT w, wf,
      |    chr(31) || regexp_replace(w, '(.)', '\1' || chr(31) || chr(31), 'g') AS s,
      |    0 AS r
      |  FROM wf
      |  UNION ALL
      |  SELECT e.w, e.wf,
      |    replace(e.s,
      |      chr(31) || m.pair[1] || chr(31) || chr(31) || m.pair[2] || chr(31),
      |      chr(31) || m.pair || chr(31)),
      |    e.r + 1
      |  FROM enc e JOIN merges m ON m.rk = e.r + 1),
      |fin AS (
      |  SELECT w, len(list_filter(string_split(s, chr(31)), x -> x <> '')) AS n_subwords
      |  FROM enc WHERE r = (SELECT COUNT(*) FROM merges)),
      |tok AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |tt AS (SELECT doc_id, w FROM tok WHERE w <> '' AND NOT contains(w, chr(31))),
      |per AS (
      |  SELECT doc_id, COUNT(*) AS n_ws_tokens,
      |    CAST(SUM(f.n_subwords) AS BIGINT) AS n_bpe_tokens,
      |    CAST(SUM(f.n_subwords) AS DOUBLE) / COUNT(*) AS expansion
      |  FROM tt JOIN fin f ON tt.w = f.w
      |  GROUP BY doc_id)""".stripMargin

  val x67Oracle: String =
    "WITH RECURSIVE " + subwordPerDocCtes + "\n" +
      "SELECT doc_id, n_ws_tokens, n_bpe_tokens, expansion FROM per"

  /** Chunk→document embedding MEAN-POOLING — the aggregation step after
    * chunk-level embedding (x26 windows → encoder → one vector per
    * chunk): consecutive chunks (vec_id div 10) pool element-wise into a
    * document vector. Elements are fixed-point-quantized (×10⁶,
    * floor(x+0.5) — the x37 rounding convention that sidesteps HALF_UP
    * vs HALF_EVEN divergence) so the pooled mean is an exact integer sum
    * divided once at the end — bit-identical in any engine and
    * order-blind, which is what makes a float aggregation
    * oracle-checkable at all.
    * Scale shape: the explode fan-out is the FIXED embedding dim (×64,
    * not data-dependent) and the (group, pos) aggregate partial-combines
    * before its one exchange; output is |groups|×dim, corpus-independent
    * per group. */
  def x69_chunk_mean_pool(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .select(call_function("div", col("vec_id"), lit(10L)).as("group_id"),
        posexplode(col("embedding")))
      .select(col("group_id"), col("pos"),
        floor(col("col").cast(DoubleType) * lit(1000000.0) + lit(0.5))
          .cast(LongType).as("q"))
      .groupBy(col("group_id"), col("pos"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("q")).as("qsum"))
      .select(col("group_id"), col("pos"), col("n_chunks"),
        (col("qsum").cast(DoubleType) /
          (col("n_chunks").cast(DoubleType) * lit(1000000.0))).as("pooled"))

  val x69Oracle: String =
    """WITH e AS (
      |  SELECT vec_id // 10 AS group_id, CAST(i - 1 AS INT) AS pos,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i))
      |SELECT group_id, pos, COUNT(*) AS n_chunks,
      |  CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1000000.0) AS pooled
      |FROM e GROUP BY group_id, pos""".stripMargin

  /** Pack-efficiency audit — the padding-waste number a trainer pays
    * for: per (source, pack) bin from the subword packing (x68), the
    * document count, token mass, and utilization against the 512 cap.
    * Under-filled tail packs and cap-straddling docs both surface here;
    * aggregate utilization is the compute-efficiency metric a packing
    * strategy is judged on.
    * Scale shape: one partial-combining rollup over x68's output — the
    * expensive part (the two-phase prefix sum) is the gated x68 itself;
    * packs are corpus/cap-sized, the rollup adds one exchange on
    * (source, pack_id). */
  def x75_pack_efficiency(spark: SparkSession, dir: String): DataFrame =
    x68_subword_packing(spark, dir)
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe_tokens")).as("pack_tokens"))
      .withColumn("utilization",
        col("pack_tokens").cast(DoubleType) / lit(512.0))

  val x75Oracle: String =
    """WITH RECURSIVE toks AS (
      |  SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |wf AS (
      |  SELECT w, COUNT(*) AS wf FROM toks
      |  WHERE w <> '' AND NOT contains(w, chr(31)) GROUP BY w),
      |p AS (
      |  SELECT wf, unnest(list_transform(
      |    generate_series(1, length(w) - 1), i -> w[i:i+1])) AS pair
      |  FROM wf WHERE length(w) >= 2),
      |ps AS (SELECT pair, SUM(wf) AS n FROM p GROUP BY pair),
      |merges AS (
      |  SELECT pair, CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rk
      |  FROM ps ORDER BY n DESC, pair LIMIT 24),
      |enc AS (
      |  SELECT w, wf,
      |    chr(31) || regexp_replace(w, '(.)', '\1' || chr(31) || chr(31), 'g') AS s,
      |    0 AS r
      |  FROM wf
      |  UNION ALL
      |  SELECT e.w, e.wf,
      |    replace(e.s,
      |      chr(31) || m.pair[1] || chr(31) || chr(31) || m.pair[2] || chr(31),
      |      chr(31) || m.pair || chr(31)),
      |    e.r + 1
      |  FROM enc e JOIN merges m ON m.rk = e.r + 1),
      |fin AS (
      |  SELECT w, len(list_filter(string_split(s, chr(31)), x -> x <> '')) AS n_subwords
      |  FROM enc WHERE r = (SELECT COUNT(*) FROM merges)),
      |tok AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |tt AS (SELECT doc_id, w FROM tok WHERE w <> '' AND NOT contains(w, chr(31))),
      |per AS (
      |  SELECT doc_id, CAST(SUM(f.n_subwords) AS BIGINT) AS n_bpe_tokens
      |  FROM tt JOIN fin f ON tt.w = f.w GROUP BY doc_id),
      |d AS (
      |  SELECT d.doc_id, d.source, p.n_bpe_tokens
      |  FROM documents d JOIN per p ON d.doc_id = p.doc_id),
      |c AS (
      |  SELECT doc_id, source, n_bpe_tokens,
      |    SUM(n_bpe_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM d),
      |packs AS (
      |  SELECT doc_id, source, n_bpe_tokens,
      |    CAST((cum - n_bpe_tokens) // 512 AS BIGINT) AS pack_id
      |  FROM c)
      |SELECT source, pack_id, COUNT(*) AS n_docs,
      |  CAST(SUM(n_bpe_tokens) AS BIGINT) AS pack_tokens,
      |  CAST(SUM(n_bpe_tokens) AS DOUBLE) / 512.0 AS utilization
      |FROM packs GROUP BY source, pack_id""".stripMargin

  /** Effective token mass per source AFTER mixing — the budget number a
    * training plan is actually costed on: each document's subword count
    * (x67) weighted by its epoch-mix replication factor (x64), rolled up
    * per source next to the raw mass, with the realized epoch multiple
    * (effective/raw) exposed so the plan can be audited against the
    * target weights (0.5/1.25/2.0/2.75 in quarters). Pure composition of
    * two gated operators — the point is that the plan columns JOIN.
    * Scale shape: both inputs are per-doc frames (x64 fully narrow, x67
    * broadcast-encoded); the doc_id join co-partitions; the per-source
    * rollup partial-combines. */
  def x74_effective_tokens(spark: SparkSession, dir: String): DataFrame = {
    val plan = x64_epoch_mix_plan(spark, dir)
      .select(col("doc_id"), col("source"), col("n_repeats"))
    val budget = x67_subword_budget(spark, dir)
      .select(col("doc_id"), col("n_bpe_tokens"))
    plan.join(budget, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe_tokens")).as("raw_tokens"),
        sum(col("n_bpe_tokens") * col("n_repeats")).as("effective_tokens"))
      .withColumn("epoch_multiple",
        col("effective_tokens").cast(DoubleType) /
          col("raw_tokens").cast(DoubleType))
  }

  val x74Oracle: String =
    """WITH RECURSIVE toks AS (
      |  SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |wf AS (
      |  SELECT w, COUNT(*) AS wf FROM toks
      |  WHERE w <> '' AND NOT contains(w, chr(31)) GROUP BY w),
      |p AS (
      |  SELECT wf, unnest(list_transform(
      |    generate_series(1, length(w) - 1), i -> w[i:i+1])) AS pair
      |  FROM wf WHERE length(w) >= 2),
      |ps AS (SELECT pair, SUM(wf) AS n FROM p GROUP BY pair),
      |merges AS (
      |  SELECT pair, CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rk
      |  FROM ps ORDER BY n DESC, pair LIMIT 24),
      |enc AS (
      |  SELECT w, wf,
      |    chr(31) || regexp_replace(w, '(.)', '\1' || chr(31) || chr(31), 'g') AS s,
      |    0 AS r
      |  FROM wf
      |  UNION ALL
      |  SELECT e.w, e.wf,
      |    replace(e.s,
      |      chr(31) || m.pair[1] || chr(31) || chr(31) || m.pair[2] || chr(31),
      |      chr(31) || m.pair || chr(31)),
      |    e.r + 1
      |  FROM enc e JOIN merges m ON m.rk = e.r + 1),
      |fin AS (
      |  SELECT w, len(list_filter(string_split(s, chr(31)), x -> x <> '')) AS n_subwords
      |  FROM enc WHERE r = (SELECT COUNT(*) FROM merges)),
      |tok AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |tt AS (SELECT doc_id, w FROM tok WHERE w <> '' AND NOT contains(w, chr(31))),
      |per AS (
      |  SELECT doc_id, CAST(SUM(f.n_subwords) AS BIGINT) AS n_bpe_tokens
      |  FROM tt JOIN fin f ON tt.w = f.w GROUP BY doc_id),
      |mixplan AS (
      |  SELECT doc_id, source,
      |    CAST((2 + (CAST(substr(source, 4) AS INT) % 4) * 3) // 4 AS BIGINT)
      |      + CASE WHEN CAST(('0x' || substr(md5('x64|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4
      |               < (2 + (CAST(substr(source, 4) AS INT) % 4) * 3) % 4
      |        THEN 1 ELSE 0 END AS n_repeats
      |  FROM documents)
      |SELECT p.source, COUNT(*) AS n_docs,
      |  CAST(SUM(b.n_bpe_tokens) AS BIGINT) AS raw_tokens,
      |  CAST(SUM(b.n_bpe_tokens * p.n_repeats) AS BIGINT) AS effective_tokens,
      |  CAST(SUM(b.n_bpe_tokens * p.n_repeats) AS DOUBLE)
      |    / CAST(SUM(b.n_bpe_tokens) AS DOUBLE) AS epoch_multiple
      |FROM mixplan p JOIN per b ON p.doc_id = b.doc_id
      |GROUP BY p.source""".stripMargin

  /** Johnson–Lindenstrauss random projection — 64-dim embeddings reduced
    * to 16 signed-integer coordinates against the md5-derived projection
    * matrix ([[SimilarityOps.lshHyperplanes]], seed-decorrelated from the
    * LSH draws): the standard preprocessing that makes downstream ANN /
    * clustering 4× cheaper while preserving pairwise distances within
    * the JL (1±ε) band. Projections are exact integer dot products of
    * the quantized vectors — any engine reproduces them bit-for-bit.
    * Scale shape: one round-robin spread of the single-file scan, then
    * pure per-row work — the 16×64 matrix is a compile-time literal in
    * the plan, quantization runs once per row, and the output is 16
    * rows per vector regardless of corpus size. */
  def x76_jl_projection(spark: SparkSession, dir: String): DataFrame = {
    val planes = SimilarityOps.lshHyperplanes(bits = 16, dim = 64, seed = "jl|")
    embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      // quantize directly — withQuantized would also build qn2, a full
      // 64-element fold this operator never reads
      .select(col("vec_id"),
        SimilarityOps.quantize(col("embedding")).as("qvec"))
      .select(col("vec_id"),
        posexplode(array(planes.map(p =>
          SimilarityOps.qdot(col("qvec"), array(p.map(lit): _*))): _*))
          .as(Seq("k", "proj")))
  }

  val x76Oracle: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |hp AS (
      |  SELECT b, list_transform(generate_series(0, 63), i ->
      |    CAST(('0x' || substr(md5('jl|' || b || '|' || i), 1, 15)) AS BIGINT) % 2001 - 1000) AS h
      |  FROM generate_series(0, 15) t(b))
      |SELECT vec_id, CAST(b AS INT) AS k,
      |  CAST(list_sum(list_transform(generate_series(1, 64), i -> qv[i] * h[i])) AS BIGINT) AS proj
      |FROM q CROSS JOIN hp""".stripMargin

  /** JL-projection RECALL audit — the measurement that justifies x76
    * before anything downstream trusts it: per query, top-5 neighbors in
    * the FULL 64-dim space (x09's exact brute force) vs top-5 in the
    * 16-dim projected space, overlap reported as recall@5. The audit
    * pattern for every lossy rep change (quantization, projection,
    * sketching): measure against exact, in the gate, before switching.
    * On this synthetic corpus the verdict is REJECT (recall@5 ≈ 0.12 at
    * sf0.01 — near-isotropic random vectors have no low-dim NN
    * structure for 16 dims to keep), which is the audit working as
    * intended: the number, not the hope, decides.
    * Scale shape: queries are a bounded slice; both rankings rank on a
    * (query-sized × corpus) scored frame with pre-join quantization /
    * projection; the overlap join is key-to-key. */
  def x77_jl_recall(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    val full = SimilarityOps.knnBruteForce(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"))
    val planes = SimilarityOps.lshHyperplanes(bits = 16, dim = 64, seed = "jl|")
    val proj = SimilarityOps.withQuantized(emb, "embedding")
      .select(col("vec_id"),
        array(planes.map(p =>
          SimilarityOps.qdot(col("qvec"), array(p.map(lit): _*))): _*).as("pv"))
      .withColumn("pn2", SimilarityOps.qnorm2(col("pv")))
    val q = proj.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("pv").as("qp"),
        col("pn2").as("qn"))
    val c = proj.select(col("vec_id").as("neighbor_id"),
      col("pv").as("cp"), col("pn2").as("cn"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        SimilarityOps.qdot(col("qp"), col("cp")).cast(DoubleType) /
          (sqrt(col("qn").cast(DoubleType)) * sqrt(col("cn").cast(DoubleType))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val ptop = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5).select(col("query_id"), col("neighbor_id"),
        lit(1).as("__graft_hit"))
    full.join(ptop, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("__graft_hit"), lit(0))).cast(LongType)
        .as("n_overlap"))
      .withColumn("recall", col("n_overlap").cast(DoubleType) / lit(5.0))
  }

  val x77Oracle: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS n2
      |  FROM q),
      |fullsc AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
      |  FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
      |ftop AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
      |    FROM fullsc) WHERE rk <= 5),
      |hp AS (
      |  SELECT b, list_transform(generate_series(0, 63), i ->
      |    CAST(('0x' || substr(md5('jl|' || b || '|' || i), 1, 15)) AS BIGINT) % 2001 - 1000) AS h
      |  FROM generate_series(0, 15) t(b)),
      |pd AS (
      |  SELECT vec_id, b,
      |    list_sum(list_transform(generate_series(1, 64), i -> qv[i] * h[i])) AS d
      |  FROM q CROSS JOIN hp),
      |pvec AS (SELECT vec_id, list(d ORDER BY b) AS pv FROM pd GROUP BY vec_id),
      |pn AS (
      |  SELECT vec_id, pv, list_sum(list_transform(pv, x -> x * x)) AS n2
      |  FROM pvec),
      |projsc AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(generate_series(1, 16), i -> a.pv[i] * b.pv[i])) AS DOUBLE)
      |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
      |  FROM pn a JOIN pn b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
      |ptop AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
      |    FROM projsc) WHERE rk <= 5)
      |SELECT f.query_id,
      |  CAST(SUM(CASE WHEN p.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_overlap,
      |  CAST(SUM(CASE WHEN p.neighbor_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE) / 5.0 AS recall
      |FROM ftop f
      |LEFT JOIN ptop p ON f.query_id = p.query_id AND f.neighbor_id = p.neighbor_id
      |GROUP BY f.query_id""".stripMargin

  /** Per-language tokenizer FERTILITY — the standard multilingual
    * tokenizer-equity metric: subwords-per-word by language (a
    * vocabulary learned on one language's statistics fragments the
    * others; fertility quantifies who pays). Rolls x67's per-doc subword
    * budget up by the document's language label, with token-weighted
    * fertility = Σ subwords / Σ words per language.
    * Scale shape: x67's broadcast-encoded join, then ONE
    * partial-combining (lang) aggregate — no new corpus pass. */
  def x78_tokenizer_fertility(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = x67_subword_budget(spark, dir)
      .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens"))
    documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws_tokens")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_subwords"))
      .withColumn("fertility",
        col("n_subwords").cast(DoubleType) / col("n_words").cast(DoubleType))
  }

  val x78Oracle: String =
    """WITH RECURSIVE toks AS (
      |  SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |wf AS (
      |  SELECT w, COUNT(*) AS wf FROM toks
      |  WHERE w <> '' AND NOT contains(w, chr(31)) GROUP BY w),
      |p AS (
      |  SELECT wf, unnest(list_transform(
      |    generate_series(1, length(w) - 1), i -> w[i:i+1])) AS pair
      |  FROM wf WHERE length(w) >= 2),
      |ps AS (SELECT pair, SUM(wf) AS n FROM p GROUP BY pair),
      |merges AS (
      |  SELECT pair, CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rk
      |  FROM ps ORDER BY n DESC, pair LIMIT 24),
      |enc AS (
      |  SELECT w, wf,
      |    chr(31) || regexp_replace(w, '(.)', '\1' || chr(31) || chr(31), 'g') AS s,
      |    0 AS r
      |  FROM wf
      |  UNION ALL
      |  SELECT e.w, e.wf,
      |    replace(e.s,
      |      chr(31) || m.pair[1] || chr(31) || chr(31) || m.pair[2] || chr(31),
      |      chr(31) || m.pair || chr(31)),
      |    e.r + 1
      |  FROM enc e JOIN merges m ON m.rk = e.r + 1),
      |fin AS (
      |  SELECT w, len(list_filter(string_split(s, chr(31)), x -> x <> '')) AS n_subwords
      |  FROM enc WHERE r = (SELECT COUNT(*) FROM merges)),
      |tok AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |tt AS (SELECT doc_id, w FROM tok WHERE w <> '' AND NOT contains(w, chr(31))),
      |per AS (
      |  SELECT doc_id, COUNT(*) AS n_ws_tokens,
      |    CAST(SUM(f.n_subwords) AS BIGINT) AS n_bpe_tokens
      |  FROM tt JOIN fin f ON tt.w = f.w GROUP BY doc_id)
      |SELECT d.lang, COUNT(*) AS n_docs,
      |  CAST(SUM(p2.n_ws_tokens) AS BIGINT) AS n_words,
      |  CAST(SUM(p2.n_bpe_tokens) AS BIGINT) AS n_subwords,
      |  CAST(SUM(p2.n_bpe_tokens) AS DOUBLE)
      |    / CAST(SUM(p2.n_ws_tokens) AS DOUBLE) AS fertility
      |FROM documents d JOIN per p2 ON d.doc_id = p2.doc_id
      |GROUP BY d.lang""".stripMargin

  /** Dataset-card summary — the one-row audit a curation run publishes
    * with the shipped corpus (the numbers a dataset card opens with):
    * document/source/language cardinalities, token and character mass,
    * exact-duplicate pressure on the x05 content key (docs in dup
    * groups, distinct groups), and the duplicate fraction. Everything is
    * exact integers plus single divisions, so the card is
    * engine-reproducible.
    * Scale shape: two partial-combining aggregates (corpus rollup +
    * key-group rollup) and a broadcast-sized single-row join — no
    * corpus-sized shuffle beyond the dup-key aggregate; distinct
    * source/lang counts ride the same hash aggregate machinery. */
  def x73_dataset_card(spark: SparkSession, dir: String): DataFrame = {
    val key = md5(concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5)))
    val d = documents(spark, dir).select(col("doc_id"), col("source"),
      col("lang"), col("n_chars"), TextOps.tokenCount(col("text")).as("nt"),
      key.as("dup_key"))
    val base = d.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("nt").cast(LongType)).as("n_tokens"),
      sum(col("n_chars").cast(LongType)).as("n_chars"))
    val dups = d.groupBy(col("dup_key")).agg(count(lit(1)).as("gs"))
      .agg(
        sum(when(col("gs") > 1, col("gs")).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("gs") > 1, 1L).otherwise(0L)).as("n_dup_groups"))
    base.crossJoin(dups)
      .withColumn("dup_frac",
        col("n_dup_docs").cast(DoubleType) / col("n_docs").cast(DoubleType))
  }

  val x73Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, source, lang, n_chars,
      |    CASE WHEN length(text) = 0 THEN 0
      |         ELSE len(string_split_regex(text, '\s+')) END AS nt,
      |    md5(array_to_string((string_split_regex(text, '\s+'))[1:5], ' ')) AS dup_key
      |  FROM documents),
      |base AS (
      |  SELECT COUNT(*) AS n_docs,
      |    COUNT(DISTINCT source) AS n_sources,
      |    COUNT(DISTINCT lang) AS n_langs,
      |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
      |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |  FROM d),
      |g AS (SELECT dup_key, COUNT(*) AS gs FROM d GROUP BY dup_key),
      |dups AS (
      |  SELECT CAST(SUM(CASE WHEN gs > 1 THEN gs ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |    CAST(SUM(CASE WHEN gs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
      |  FROM g)
      |SELECT n_docs, n_sources, n_langs, n_tokens, n_chars,
      |  n_dup_docs, n_dup_groups,
      |  CAST(n_dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_frac
      |FROM base CROSS JOIN dups""".stripMargin

  /** Incremental NEAR-dup dedup — x42's nightly-crawl contract at
    * near-duplicate (not exact-key) granularity: the arriving delta
    * (ids ≡7 mod 10) probes the STANDING CORPUS's minhash band index,
    * candidate (delta × corpus) pairs verify with exact shingle jaccard,
    * and every delta document gets a verdict row (candidates found,
    * near-dups ≥ .5, best score). The asymmetric join is the point: the
    * corpus contributes its band index once (in production a
    * [[graft.ops.Staged]] bucketed artifact), per-batch work scales
    * with the DELTA — never a corpus self-join per batch.
    * Scale shape: band-bucket equi-join (delta-sided), shingle
    * verification only for candidate endpoints (the x06 candSh rule,
    * cache freed before return), rollup partial-combines. Oracle = the
    * shared full-corpus LSH CTEs restricted to cross pairs — identical
    * signatures, so the asymmetric probe provably finds exactly the
    * cross subset of x06's pair set. */
  def x72_incremental_near_dedup(spark: SparkSession, dir: String): DataFrame = {
    val (audit, caches) = incrementalNearDedupAudit(spark, dir)
    val res = audit.localCheckpoint(true)
    caches.foreach(_.unpersist())
    res
  }

  /** The un-checkpointed x72 (verdict frame + the caches it holds),
    * exposed so PlanShapeSpec can pin the band-probe shape that
    * `localCheckpoint` erases from the public query's plan (the q79
    * pattern). */
  private[graft] def incrementalNearDedupAudit(spark: SparkSession,
      dir: String): (DataFrame, Seq[DataFrame]) = {
    val docs = documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"))
    val isDelta = pmod(col("doc_id"), lit(10)) === 7
    def bandsOf(d: DataFrame) = d.select(col("doc_id"),
      posexplode(DedupOps.bandKeysFromSigArray(
        DedupOps.minhashSignatureArray(
          DedupOps.hashedShinglesOf(TextOps.tokens(col("text")), 3)),
        rowsPerBand = 4, nBands = 2)).as(Seq("band_idx", "band_key")))
    val corpusBands = bandsOf(docs.filter(!isDelta))
      .toDF("corpus_id", "band_idx", "band_key")
    val deltaBands = bandsOf(docs.filter(isDelta))
      .toDF("delta_id", "band_idx", "band_key")
    val cand = deltaBands.join(corpusBands, Seq("band_idx", "band_key"))
      .select(col("delta_id"), col("corpus_id"))
      .dropDuplicates("delta_id", "corpus_id")
    val ids = cand.select(col("delta_id").as("doc_id"))
      .unionByName(cand.select(col("corpus_id").as("doc_id"))).distinct()
    val candSh = docs.join(broadcast(ids), Seq("doc_id"))
      .select(col("doc_id"), DedupOps.shingles(col("text"), 3).as("sh"))
      .cache()
    val scored = cand
      .join(candSh.toDF("delta_id", "sh_a"), "delta_id")
      .join(candSh.toDF("corpus_id", "sh_b"), "corpus_id")
      .select(col("delta_id"),
        DedupOps.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
    val roll = scored.groupBy(col("delta_id"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_near_dups"),
        max(col("jaccard")).as("max_jaccard"))
    val audit = docs.filter(isDelta).select(col("doc_id"))
      .join(roll.withColumnRenamed("delta_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
        col("max_jaccard"),
        (coalesce(col("n_near_dups"), lit(0L)) > 0).as("is_near_dup"))
    (audit, Seq(candSh))
  }

  val x72Oracle: String =
    s"""WITH $lshScoredCtes,
       |cross_ AS (
       |  SELECT CASE WHEN doc_a % 10 = 7 THEN doc_a ELSE doc_b END AS delta_id,
       |    jaccard
       |  FROM scored
       |  WHERE (doc_a % 10 = 7) <> (doc_b % 10 = 7)),
       |roll AS (
       |  SELECT delta_id, COUNT(*) AS n_candidates,
       |    CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dups,
       |    MAX(jaccard) AS max_jaccard
       |  FROM cross_ GROUP BY delta_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(r.n_candidates, 0) AS BIGINT) AS n_candidates,
       |  CAST(coalesce(r.n_near_dups, 0) AS BIGINT) AS n_near_dups,
       |  r.max_jaccard,
       |  coalesce(r.n_near_dups, 0) > 0 AS is_near_dup
       |FROM documents d LEFT JOIN roll r ON d.doc_id = r.delta_id
       |WHERE d.doc_id % 10 = 7""".stripMargin

  /** Hard-negative mining ([[SimilarityOps.hardNegatives]]) — the
    * retrieval/contrastive-training sampler: per query vector, the 3
    * most-similar OTHER-label vectors under a 0.95 cosine ceiling (the
    * informative band: similar, but not the same content). Brute-force
    * here so the oracle is exact; the band+label rule is a per-pair
    * filter, so at scale it rides any candidate generator (x13's LSH
    * buckets, x11/x48's IVF cells) unchanged.
    * Scale shape: queries are a bounded slice; quantization + norms
    * compute once per row BEFORE the join fan-out; the rank window
    * partitions on query_id (bounded by |queries|·|band survivors|). */
  def x71_hard_negatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    SimilarityOps.hardNegatives(
      emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", "label",
      k = 3, maxCosine = 0.95)
  }

  val x71Oracle: String =
    """WITH q AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, label, qv,
      |    list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS n2
      |  FROM q),
      |scored AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    b.label AS neighbor_label,
      |    CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
      |  FROM n a JOIN n b
      |    ON a.vec_id < 20 AND a.vec_id <> b.vec_id AND a.label <> b.label)
      |SELECT query_id, neighbor_id, neighbor_label, rank, cosine FROM (
      |  SELECT query_id, neighbor_id, neighbor_label, cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      |  FROM scored WHERE cosine < 0.95)
      |WHERE rank <= 3""".stripMargin

  /** Near-dup graph DEGREE audit — the duplication-pressure profile a
    * curation run reports before deciding thresholds: per document, how
    * many near-dup partners (staged LSH pairs, jaccard ≥ .5) it has and
    * the strongest of them; isolated documents appear with degree 0 so
    * the distribution is over the WHOLE corpus. Third consumer of
    * [[stagedLshScoredPairs]] — the minhash/LSH/verify pipeline runs
    * once per dataset content, every audit after that is candidate-sized.
    * Scale shape: endpoint explode is 2×|pairs| (candidate-sized, never
    * corpus²); the degree rollup partial-combines; the corpus join is a
    * key-to-key hash join. max(jaccard) is order-blind, so the double
    * column is oracle-stable. */
  def x70_neardup_degree(spark: SparkSession, dir: String): DataFrame = {
    val pairs = stagedLshScoredPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val ends = pairs.select(col("doc_a").as("doc_id"), col("jaccard"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"), col("jaccard")))
    val deg = ends.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("degree"), max(col("jaccard")).as("max_jaccard"))
    documents(spark, dir).select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        col("max_jaccard"))
  }

  val x70Oracle: String =
    s"""WITH $lshScoredCtes,
       |ends AS (
       |  SELECT doc_a AS doc_id, jaccard FROM scored
       |  UNION ALL
       |  SELECT doc_b, jaccard FROM scored),
       |deg AS (
       |  SELECT doc_id, COUNT(*) AS degree, MAX(jaccard) AS max_jaccard
       |  FROM ends GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(g.degree, 0) AS BIGINT) AS degree,
       |  g.max_jaccard
       |FROM documents d LEFT JOIN deg g ON d.doc_id = g.doc_id""".stripMargin

  /** Sequence packing on the SUBWORD budget — x30's greedy per-source
    * packing re-run with x67's learned-BPE document sizes as the budget
    * column ([[graft.text.CorpusOps.sequencePackingBySize]]): the pack
    * boundaries a trainer actually needs, since context windows are
    * measured in model tokens, not whitespace words. Demonstrates the
    * size-column generalization: any per-doc budget (bytes, subwords,
    * chars) packs through the identical two-phase prefix-sum shape.
    * Scale shape: inherits x67's vocabulary-sized encode + broadcast
    * join, then the x30 machinery — row cumsum windows on (source,
    * bucket), offsets broadcast; never a bare source window. */
  def x68_subword_packing(spark: SparkSession, dir: String): DataFrame = {
    val sized = x67_subword_budget(spark, dir)
      .select(col("doc_id"), col("n_bpe_tokens"))
    val docs = documents(spark, dir).select(col("doc_id"), col("source"))
      .join(sized, Seq("doc_id"))
    graft.text.CorpusOps.sequencePackingBySize(docs, "doc_id", "source",
      col("n_bpe_tokens"), "n_bpe_tokens", cap = 512,
      // id stats from the cheap documents scan (a superset of the joined
      // ids — valid bucket width, no second run of the encode pipeline)
      idStatsSource = Some(documents(spark, dir).select(col("doc_id"))))
  }

  val x68Oracle: String =
    "WITH RECURSIVE " + subwordPerDocCtes + ",\n" +
    """d AS (
      |  SELECT d.doc_id, d.source, p.n_bpe_tokens
      |  FROM documents d JOIN per p ON d.doc_id = p.doc_id),
      |c AS (
      |  SELECT doc_id, source, n_bpe_tokens,
      |    SUM(n_bpe_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM d)
      |SELECT doc_id, source, n_bpe_tokens,
      |  CAST((cum - n_bpe_tokens) // 512 AS BIGINT) AS pack_id
      |FROM c""".stripMargin

  /** Token-budget mixture sampling on the SUBWORD budget — x46's
    * 600-whitespace-token recipe re-denominated in x67's learned-BPE
    * sizes (6000 subwords per source): the unit a training recipe
    * actually specifies, since context windows and compute are priced
    * in model tokens, not whitespace words (the r9 stopgap). Same
    * deterministic md5 draw, same two-phase running total; only the
    * size column changes.
    * Scale shape: inherits x67's vocabulary-sized encode + broadcast
    * corpus join (ONE corpus tokenize, spec-pinned), then
    * [[graft.text.CorpusOps.tokenBudgetSample]] unchanged. */
  def x82_subword_budget_mix(spark: SparkSession, dir: String): DataFrame = {
    val sub = x67_subword_budget(spark, dir)
      .select(col("doc_id"), col("n_bpe_tokens"))
    val counted = documents(spark, dir).select(col("doc_id"), col("source"))
      .join(sub, Seq("doc_id"))
    graft.text.CorpusOps.tokenBudgetSample(
        counted, "doc_id", "source", "n_bpe_tokens", 6000L, "x82|")
      .select(col("doc_id"), col("source"), col("n_bpe_tokens"),
        col("cum_tokens"), col("keep"))
  }

  val x82Oracle: String =
    "WITH RECURSIVE " + subwordPerDocCtes + ",\n" +
    """t AS (
      |  SELECT d.doc_id, d.source, p.n_bpe_tokens,
      |    md5('x82|' || CAST(d.doc_id AS VARCHAR)) AS hx
      |  FROM documents d JOIN per p ON d.doc_id = p.doc_id),
      |r AS (
      |  SELECT doc_id, source, n_bpe_tokens,
      |    SUM(n_bpe_tokens) OVER (PARTITION BY source ORDER BY hx, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      |  FROM t)
      |SELECT doc_id, source, n_bpe_tokens,
      |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
      |  cum_tokens <= 6000 AS keep
      |FROM r""".stripMargin

  /** Size-balanced shards on the SUBWORD budget — x59's serpentine deal
    * over x67's learned-BPE document sizes: webdataset/tfrecord writers
    * balance MODEL-token mass per file, and a shard plan balanced on
    * whitespace words drifts wherever tokenizer fertility varies across
    * sources/languages (exactly what x78 measures). Identical machinery
    * ([[serpentineShards]]), subword size column.
    * Scale shape: x67's broadcast encode join feeds the x59 two-phase
    * rank — no second corpus tokenize, no partition-less corpus
    * window (both spec-pinned). */
  def x83_subword_shards(spark: SparkSession, dir: String): DataFrame = {
    val sub = x67_subword_budget(spark, dir)
      .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
    val sized = documents(spark, dir).select(col("doc_id"), col("source"))
      .join(sub, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
    serpentineShards(sized, 16, "x83")
      .select(col("doc_id"), col("source"),
        col("n_tokens").as("n_bpe_tokens"), col("shard"))
  }

  val x83Oracle: String =
    "WITH RECURSIVE " + subwordPerDocCtes + ",\n" +
    """sized AS (
      |  SELECT d.doc_id, d.source, p.n_bpe_tokens AS n_tokens
      |  FROM documents d JOIN per p ON d.doc_id = p.doc_id),
      |r AS (
      |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
      |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rn
      |  FROM sized)
      |SELECT doc_id, source, n_tokens AS n_bpe_tokens,
      |  CAST(CASE WHEN (rn // 16) % 2 = 0 THEN rn % 16
      |       ELSE 15 - rn % 16 END AS INT) AS shard
      |FROM r""".stripMargin

  /** Second-iteration BPE — the re-count loop x55/x61 deferred: round-1
    * merges are character pairs by construction (single-pass statistics);
    * round 2 RE-COUNTS adjacent-pair statistics over the partially-merged
    * vocabulary ([[graft.text.Bpe.tokenPairStats]]) and takes the next 8
    * merges, so merge sides can be multi-character tokens — what real
    * vocabularies contain (BpeSpec pins that this corpus learns at least
    * one such merge). Emits per vocab word the round-1/round-2 subword
    * counts and the final segmentation, so the hash gate certifies the
    * exact token boundaries, not just counts.
    * Scale shape: both learning rounds are vocabulary-sized aggregates
    * plus bounded tokenizer-model collects; both applies are chained
    * literal codegen'd replaces over DISTINCT words; the corpus is
    * tokenized zero extra times (stagedWordFreq is the staged artifact).
    * The oracle replays both rounds as two recursive-CTE levels. */
  def x84_bpe_iter2(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Bpe
    val wf = stagedWordFreq(spark, dir)
    val m1 = Bpe.learnMerges(wf, 16)
    val enc1 = wf.select(col("w"), col("wf"),
      Bpe.applyMerges(Bpe.wrap(col("w")), m1).as("s1"))
    val m2 = Bpe.learnTokenMerges(enc1, "s1", "wf", 8)
    enc1
      .withColumn("s2", Bpe.applyTokenMerges(col("s1"), m2))
      .select(col("w"), col("wf").cast(LongType).as("wf"),
        size(Bpe.subwords(col("s1"))).cast(LongType).as("n_sub_r1"),
        size(Bpe.subwords(col("s2"))).cast(LongType).as("n_sub_r2"),
        array_join(Bpe.subwords(col("s2")), "|").as("seg2"))
  }

  val x84Oracle: String =
    """WITH RECURSIVE toks AS (
      |  SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |wf AS (
      |  SELECT w, COUNT(*) AS wf FROM toks
      |  WHERE w <> '' AND NOT contains(w, chr(31)) GROUP BY w),
      |p AS (
      |  SELECT wf, unnest(list_transform(
      |    generate_series(1, length(w) - 1), i -> w[i:i+1])) AS pair
      |  FROM wf WHERE length(w) >= 2),
      |ps AS (SELECT pair, SUM(wf) AS n FROM p GROUP BY pair),
      |m1 AS (
      |  SELECT pair, CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rk
      |  FROM ps ORDER BY n DESC, pair LIMIT 16),
      |enc1 AS (
      |  SELECT w, wf,
      |    chr(31) || regexp_replace(w, '(.)', '\1' || chr(31) || chr(31), 'g') AS s,
      |    0 AS r
      |  FROM wf
      |  UNION ALL
      |  SELECT e.w, e.wf,
      |    replace(e.s,
      |      chr(31) || m.pair[1] || chr(31) || chr(31) || m.pair[2] || chr(31),
      |      chr(31) || m.pair || chr(31)),
      |    e.r + 1
      |  FROM enc1 e JOIN m1 m ON m.rk = e.r + 1),
      |fin1 AS (
      |  SELECT w, wf, s FROM enc1 WHERE r = (SELECT COUNT(*) FROM m1)),
      |tl AS (
      |  SELECT w, wf, s,
      |    list_filter(string_split(s, chr(31)), x -> x <> '') AS tl
      |  FROM fin1),
      |tp AS (
      |  SELECT wf, unnest(list_transform(generate_series(1, len(tl) - 1),
      |    i -> struct_pack(a := tl[i], b := tl[i+1]))) AS pr
      |  FROM tl WHERE len(tl) >= 2),
      |tps AS (SELECT pr.a AS a, pr.b AS b, SUM(wf) AS n FROM tp GROUP BY 1, 2),
      |m2 AS (
      |  SELECT a, b, CAST(row_number() OVER (ORDER BY n DESC, a, b) AS INT) AS rk
      |  FROM tps ORDER BY n DESC, a, b LIMIT 8),
      |enc2 AS (
      |  SELECT w, wf, s, 0 AS r FROM fin1
      |  UNION ALL
      |  SELECT e.w, e.wf,
      |    replace(e.s,
      |      chr(31) || m.a || chr(31) || chr(31) || m.b || chr(31),
      |      chr(31) || m.a || m.b || chr(31)),
      |    e.r + 1
      |  FROM enc2 e JOIN m2 m ON m.rk = e.r + 1),
      |fin2 AS (
      |  SELECT w, wf, s FROM enc2 WHERE r = (SELECT COUNT(*) FROM m2)),
      |o1 AS (
      |  SELECT w, len(list_filter(string_split(s, chr(31)), x -> x <> '')) AS n_sub_r1
      |  FROM fin1)
      |SELECT f2.w, CAST(f2.wf AS BIGINT) AS wf,
      |  CAST(o1.n_sub_r1 AS BIGINT) AS n_sub_r1,
      |  CAST(len(list_filter(string_split(f2.s, chr(31)), x -> x <> '')) AS BIGINT) AS n_sub_r2,
      |  array_to_string(list_filter(string_split(f2.s, chr(31)), x -> x <> ''), '|') AS seg2
      |FROM fin2 f2 JOIN o1 ON f2.w = o1.w""".stripMargin

  /** BPE run to a DEEPER vocabulary — the multi-round loop real
    * tokenizers close (x84 proved one re-count round; a production
    * vocabulary runs the loop to |V|): round 1 learns 16 character-pair
    * merges, then THREE re-count rounds ([[graft.text.Bpe.learnTokenMerges]],
    * 8 merges each) re-price adjacent-token statistics over the
    * progressively-merged vocabulary — 40 merges total, deep enough
    * that merge sides are themselves multi-character tokens (BpeSpec
    * pins ≥3-char tokens in the final vocabulary). The result is the
    * VOCABULARY a tokenizer ships: per final subword token, its corpus
    * frequency (wf-weighted positions), position count and length.
    * A round that finds fewer than 8 surviving pairs simply learns
    * fewer merges — mirrored exactly by the oracle's LIMIT + rank join.
    * Scale shape: every round is a vocabulary-sized aggregate plus a
    * bounded tokenizer-model collect (the merge table is a plan
    * literal); applies stay chained codegen'd literal replaces over
    * DISTINCT words; the corpus is tokenized zero extra times. The
    * oracle replays all four rounds as recursive-CTE levels — the
    * round cap is what keeps the DuckDB replay bounded (the gate's
    * integrity outranks depth). */
  def x93_bpe_vocab(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Bpe
    val wf = stagedWordFreq(spark, dir)
    val m1 = Bpe.learnMerges(wf, 16)
    val enc1 = wf.select(col("w"), col("wf"),
      Bpe.applyMerges(Bpe.wrap(col("w")), m1).as("s"))
    val encFinal = (2 to 4).foldLeft(enc1) { (enc, _) =>
      val m = Bpe.learnTokenMerges(enc, "s", "wf", 8)
      enc.withColumn("s", Bpe.applyTokenMerges(col("s"), m))
    }
    encFinal
      .select(col("wf"), explode(Bpe.subwords(col("s"))).as("token"))
      .groupBy(col("token"))
      .agg(sum(col("wf")).cast(LongType).as("tok_freq"),
        count(lit(1)).cast(LongType).as("n_positions"))
      .withColumn("tok_len", length(col("token")).cast(IntegerType))
  }

  private def bpeOracleRound(i: Int): String = {
    val prev = s"fin${i - 1}"
    s"""tl$i AS (
       |  SELECT w, wf, s,
       |    list_filter(string_split(s, chr(31)), x -> x <> '') AS tl
       |  FROM $prev),
       |tp$i AS (
       |  SELECT wf, unnest(list_transform(generate_series(1, len(tl) - 1),
       |    i -> struct_pack(a := tl[i], b := tl[i+1]))) AS pr
       |  FROM tl$i WHERE len(tl) >= 2),
       |tps$i AS (SELECT pr.a AS a, pr.b AS b, SUM(wf) AS n FROM tp$i GROUP BY 1, 2),
       |m$i AS (
       |  SELECT a, b, CAST(row_number() OVER (ORDER BY n DESC, a, b) AS INT) AS rk
       |  FROM tps$i ORDER BY n DESC, a, b LIMIT 8),
       |enc$i AS (
       |  SELECT w, wf, s, 0 AS r FROM $prev
       |  UNION ALL
       |  SELECT e.w, e.wf,
       |    replace(e.s,
       |      chr(31) || m.a || chr(31) || chr(31) || m.b || chr(31),
       |      chr(31) || m.a || m.b || chr(31)),
       |    e.r + 1
       |  FROM enc$i e JOIN m$i m ON m.rk = e.r + 1),
       |fin$i AS (
       |  SELECT w, wf, s FROM enc$i WHERE r = (SELECT COUNT(*) FROM m$i))""".stripMargin
  }

  val x93Oracle: String =
    """WITH RECURSIVE toks AS (
      |  SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |wf AS (
      |  SELECT w, COUNT(*) AS wf FROM toks
      |  WHERE w <> '' AND NOT contains(w, chr(31)) GROUP BY w),
      |p AS (
      |  SELECT wf, unnest(list_transform(
      |    generate_series(1, length(w) - 1), i -> w[i:i+1])) AS pair
      |  FROM wf WHERE length(w) >= 2),
      |ps AS (SELECT pair, SUM(wf) AS n FROM p GROUP BY pair),
      |m1 AS (
      |  SELECT pair, CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rk
      |  FROM ps ORDER BY n DESC, pair LIMIT 16),
      |enc1 AS (
      |  SELECT w, wf,
      |    chr(31) || regexp_replace(w, '(.)', '\1' || chr(31) || chr(31), 'g') AS s,
      |    0 AS r
      |  FROM wf
      |  UNION ALL
      |  SELECT e.w, e.wf,
      |    replace(e.s,
      |      chr(31) || m.pair[1] || chr(31) || chr(31) || m.pair[2] || chr(31),
      |      chr(31) || m.pair || chr(31)),
      |    e.r + 1
      |  FROM enc1 e JOIN m1 m ON m.rk = e.r + 1),
      |fin1 AS (
      |  SELECT w, wf, s FROM enc1 WHERE r = (SELECT COUNT(*) FROM m1)),
      |""".stripMargin +
      (2 to 4).map(bpeOracleRound).mkString(",\n") + ",\n" +
    """v AS (
      |  SELECT wf, unnest(list_filter(string_split(s, chr(31)), x -> x <> ''))
      |    AS token
      |  FROM fin4)
      |SELECT token, CAST(SUM(wf) AS BIGINT) AS tok_freq,
      |  CAST(COUNT(*) AS BIGINT) AS n_positions,
      |  CAST(length(token) AS INT) AS tok_len
      |FROM v GROUP BY token""".stripMargin

  /** Bigram-LM fluency gate — the CCNet-style quality filter a real
    * curation pipeline runs after x35's unigram stopgap: an add-one
    * smoothed bigram model `P(b|a) = (B(a,b)+1) / (U(a)+V)` trained on
    * the corpus itself scores every document's adjacent-pair stream;
    * gibberish and boilerplate-shredded text sits in low-probability
    * transitions while fluent text rides the head of the conditional
    * distribution.
    *
    * Scoring is EXACT for oracle parity — the reason this emits mean
    * conditional probability rather than log-perplexity: every per-pair
    * probability is one IEEE division (correctly rounded, identical in
    * any engine) cast to DECIMAL(24,14) (tie-free by construction — a
    * binary64 can never land exactly on a 14-digit half-ulp), the
    * per-doc SUM is exact decimal arithmetic (order-independent), and
    * the keep gate compares `sum * 50 > n_pairs` (mean cond-prob >
    * 0.02) in integers/decimals. A libm `ln` would differ across
    * engines in the last ulp and poison the hash gate; rank-ordering —
    * what a filter consumes — is preserved without it. `max_surprisal`
    * (the worst transition, x35's convention) rides along as the
    * secondary signal.
    *
    * Scale shape: the bigram and left-context tables are the ONLY
    * corpus-mass aggregates — both partial-combining groupBys on the
    * pair stream (spec-pinned); V is a scalar distinct-count broadcast
    * like x35's corpus total; scoring is two term-keyed equi-joins and
    * one per-doc aggregate. No corpus window anywhere. */
  def x94_bigram_lm_quality(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val pairs = docs
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(
        graft.functions.NativeFunctions.tokenTuples(col("toks"), 2)).as("pr"))
      .select(col("doc_id"), col("pr.a").as("a"), col("pr.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
    val big = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("bn"))
    val ctx = pairs.groupBy(col("a")).agg(count(lit(1)).as("un"))
    val vocab = docs.select(explode(col("toks")).as("t"))
      .filter(col("t") =!= "")
      .agg(countDistinct(col("t")).as("v"))
    pairs.join(big, Seq("a", "b")).join(ctx, Seq("a"))
      .crossJoin(broadcast(vocab))
      .withColumn("cp",
        ((col("bn") + lit(1)).cast(DoubleType) /
          (col("un") + col("v")).cast(DoubleType))
          .cast(DecimalType(24, 14)))
      .withColumn("sp",
        (col("un") + col("v")).cast(DoubleType) /
          (col("bn") + lit(1)).cast(DoubleType))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("cp")).cast(DecimalType(30, 14)).as("sum_cp_x"),
        max(col("sp")).as("max_surprisal"))
      // the keep gate compares in EXACT decimal/integer space; only the
      // reported score column rounds to double (the repo's output
      // convention — exact inside, DOUBLE at the edge)
      .withColumn("keep", col("sum_cp_x") * 50 > col("n_pairs"))
      .withColumn("sum_condprob", col("sum_cp_x").cast(DoubleType))
      .select(col("doc_id"), col("n_pairs"), col("sum_condprob"),
        col("max_surprisal"), col("keep"))
  }

  val x94Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      |pr AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(w) - 1),
      |      i -> struct_pack(a := w[i], b := w[i+1]))) AS pr
      |  FROM toks WHERE len(w) >= 2),
      |pp AS (
      |  SELECT doc_id, pr.a AS a, pr.b AS b FROM pr
      |  WHERE pr.a <> '' AND pr.b <> ''),
      |big AS (SELECT a, b, COUNT(*) AS bn FROM pp GROUP BY 1, 2),
      |ctx AS (SELECT a, COUNT(*) AS un FROM pp GROUP BY 1),
      |voc AS (
      |  SELECT COUNT(DISTINCT t) AS v
      |  FROM (SELECT unnest(w) AS t FROM toks) u WHERE t <> ''),
      |sc AS (
      |  SELECT p.doc_id,
      |    CAST(CAST(bn + 1 AS DOUBLE) / CAST(un + v AS DOUBLE)
      |      AS DECIMAL(24,14)) AS cp,
      |    CAST(un + v AS DOUBLE) / CAST(bn + 1 AS DOUBLE) AS sp
      |  FROM pp p JOIN big USING (a, b) JOIN ctx USING (a) CROSS JOIN voc)
      |SELECT doc_id, COUNT(*) AS n_pairs,
      |  CAST(CAST(SUM(cp) AS DECIMAL(30,14)) AS DOUBLE) AS sum_condprob,
      |  MAX(sp) AS max_surprisal,
      |  CAST(SUM(cp) AS DECIMAL(30,14)) * 50 > COUNT(*) AS keep
      |FROM sc GROUP BY doc_id""".stripMargin

  /** CCNet-style quality TIERS — the banding step after x94's fluency
    * score: per language, documents split into head / middle / tail
    * thirds by mean bigram conditional probability (CCNet buckets on
    * LM perplexity exactly this way; training recipes then sample the
    * head harder). The per-language ranking runs through
    * [[graft.ops.RankLowering.rowNumber]] — literal-boundary buckets,
    * bounded tasks at 5-language cardinality over any corpus size —
    * and the tier gate is integer arithmetic (`rank·3 ≤ n`), so the
    * only doubles in play are single IEEE divisions both engines round
    * identically. Scale shape: x94's aggregates + one broadcast totals
    * join + the two-phase rank; no corpus window. */
  def x95_quality_tiers(spark: SparkSession, dir: String): DataFrame = {
    val scored = x94_bigram_lm_quality(spark, dir)
      .select(col("doc_id"), col("n_pairs"), col("sum_condprob"))
    // SLIM per-doc frame, MANY consumers: the two-phase rank evaluates
    // its input for the boundary sample, the local window and the
    // offsets aggregate, and the totals/back-join read it again — cache
    // so the corpus-mass LM pipeline underneath runs ONCE (the x06
    // slim-frame rule; Verify/Bench clear the SQL cache per query)
    val s = documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"))
      .withColumn("fluency",
        col("sum_condprob") / col("n_pairs").cast(DoubleType))
      .cache()
    val ranked = graft.ops.RankLowering.rowNumber(s, Seq(col("lang")),
      Seq(col("fluency").desc, col("doc_id").asc), "__graft_qr")
    val totals = s.groupBy(col("lang")).agg(count(lit(1)).as("__graft_qn"))
    ranked.join(broadcast(totals), Seq("lang"))
      .withColumn("tier",
        when(col("__graft_qr") * 3 <= col("__graft_qn"), lit("head"))
          .when(col("__graft_qr") * 3 <= col("__graft_qn") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), col("fluency"), col("tier"))
  }

  val x95Oracle: String =
    "WITH scored AS (\n" +
      "  SELECT doc_id, sum_condprob / n_pairs AS fluency FROM (\n" +
      x94Oracle + "\n  ) x),\n" +
    """l AS (
      |  SELECT d.doc_id, d.lang, s.fluency
      |  FROM documents d JOIN scored s USING (doc_id)),
      |r AS (
      |  SELECT doc_id, lang, fluency,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY fluency DESC, doc_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM l)
      |SELECT doc_id, lang, fluency,
      |  CASE WHEN rk * 3 <= n THEN 'head'
      |       WHEN rk * 3 <= 2 * n THEN 'middle'
      |       ELSE 'tail' END AS tier
      |FROM r""".stripMargin

  /** Quality-AWARE near-dup survivorship — the dedup policy upgrade a
    * real curation pipeline makes once it has a quality model: among
    * near-duplicate copies, keep the HIGHEST-fluency one (x94's bigram
    * score), not the lowest id (x33's bootstrap convention). Pairwise
    * greedy rule, x90's non-closure convention: a document is removed
    * iff some ≥0.7-jaccard partner beats it on (fluency, then lower
    * id) — exact for the greedy rule and oracle-replayable without
    * iteration. Fifth consumer of [[stagedLshScoredPairs]]:
    * candidate-sized work over the staged pair frame + one term-keyed
    * join to the x94 scores; no corpus rescan, no window. Tie-break on
    * id keeps the rule total (identical fluency ⇒ deterministic
    * winner). */
  def x96_quality_survivor(spark: SparkSession, dir: String): DataFrame = {
    val pairs = stagedLshScoredPairs(spark, dir)
      .filter(col("jaccard") >= 0.7)
      .select(col("doc_a"), col("doc_b"))
    val sym = pairs.unionByName(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    // slim per-doc frame probed from BOTH pair sides — cache so the LM
    // pipeline underneath runs once, not once per join leg
    val flu = x94_bigram_lm_quality(spark, dir)
      .withColumn("fluency",
        col("sum_condprob") / col("n_pairs").cast(DoubleType))
      .select(col("doc_id"), col("fluency"))
      .cache()
    val fa = flu.select(col("doc_id").as("doc_a"), col("fluency").as("fl_a"))
    val fb = flu.select(col("doc_id").as("doc_b"), col("fluency").as("fl_b"))
    sym.join(fa, Seq("doc_a")).join(fb, Seq("doc_b"))
      .groupBy(col("doc_a"), col("fl_a"))
      .agg(count(lit(1)).as("n_partners"),
        max(when(col("fl_b") > col("fl_a") ||
          (col("fl_b") === col("fl_a") && col("doc_b") < col("doc_a")),
          1).otherwise(0)).as("__graft_beat"))
      .select(col("doc_a").as("doc_id"), col("fl_a").as("fluency"),
        col("n_partners"), (col("__graft_beat") === 1).as("removed"))
  }

  val x96Oracle: String =
    s"WITH $lshScoredCtes,\n" +
    "f AS (\n  SELECT doc_id, sum_condprob / n_pairs AS fluency FROM (\n" +
      x94Oracle + "\n  ) x),\n" +
    """fired AS (
      |  SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.7),
      |sym AS (
      |  SELECT doc_a, doc_b FROM fired
      |  UNION ALL SELECT doc_b, doc_a FROM fired),
      |j AS (
      |  SELECT s.doc_a, s.doc_b, a.fluency AS fl_a, b.fluency AS fl_b
      |  FROM sym s JOIN f a ON s.doc_a = a.doc_id
      |             JOIN f b ON s.doc_b = b.doc_id)
      |SELECT doc_a AS doc_id, fl_a AS fluency,
      |  COUNT(*) AS n_partners,
      |  MAX(CASE WHEN fl_b > fl_a OR (fl_b = fl_a AND doc_b < doc_a)
      |      THEN 1 ELSE 0 END) = 1 AS removed
      |FROM j GROUP BY doc_a, fl_a""".stripMargin

  /** LSH S-CURVE audit — the band/row tuning artifact a dedup pipeline
    * files before pinning its (bands × rows) configuration: from ONE
    * 8-permutation minhash signature pass, every way of cutting the
    * signature into bands ((1×8), (2×4), (4×2), (8×1) rows×bands) is
    * evaluated for candidate volume and recall of true ≥0.7-jaccard
    * pairs. More rows per band = steeper S-curve (fewer, more
    * confident candidates); the audit measures where the knee actually
    * sits on THIS corpus instead of trusting the formula. Ground truth
    * = verified pairs surfaced by ANY config (r=1 single-perm bands
    * are the most permissive cut; absolute recall beyond their reach
    * is unobservable without all-pairs — documented, not hidden).
    * Scale shape: the signature computes ONCE (cached slim frame);
    * per-config banding is arithmetic over the signature array;
    * verification runs once per DISTINCT candidate pair across all
    * configs (the md5-heavy step never repeats per config); rollups
    * partial-combine. */
  def x98_lsh_scurve(spark: SparkSession, dir: String): DataFrame = {
    val configs = Seq((1, 8), (2, 4), (4, 2), (8, 1))
    val docs = documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"))
    val sig = docs.select(col("doc_id"),
      DedupOps.minhashSignatureArray(
        DedupOps.hashedShinglesOf(TextOps.tokens(col("text")), 3)).as("sig"))
      .cache()
    // ONE tagged candidate pass for all four configs (r18 opt): the
    // per-config band keys concat into a single (r, b, band_idx,
    // band_key) explode, buckets group once on the tagged key, pairs
    // dedup once on (config, pair) — bit-identical to the former
    // union of four lshCandidatePairs pipelines (per-config grouping
    // and maxBucket semantics are unchanged; the x98 oracle replays
    // the per-config union form) at a quarter of the shuffles.
    val bandStructs = concat(configs.map { case (r, b) =>
      transform(DedupOps.bandKeysFromSigArray(col("sig"), r, b),
        (k, i) => struct(lit(r).as("r"), lit(b).as("nb"),
          i.as("band_idx"), k.as("band_key")))
    }: _*)
    val exploded = sig
      .select(col("doc_id").as("__id"), explode(bandStructs).as("e"))
      .select(col("__id"), col("e.r").as("rows_per_band"),
        col("e.nb").as("n_bands"), col("e.band_idx").as("band_idx"),
        col("e.band_key").as("band_key"))
    val cand = DedupOps.lshCandidatePairsTagged(exploded,
        Seq("rows_per_band", "n_bands"))
      .cache()
    cand.count()
    sig.unpersist()
    val distinctPairs = cand.select(col("doc_a"), col("doc_b")).distinct()
    val candIds = distinctPairs.select(col("doc_a").as("doc_id"))
      .unionByName(distinctPairs.select(col("doc_b").as("doc_id"))).distinct()
    val candSh = docs.join(broadcast(candIds), Seq("doc_id"))
      .select(col("doc_id"), DedupOps.shingles(col("text"), 3).as("sh"))
      .cache()
    val scored = distinctPairs
      .join(candSh.toDF("doc_a", "sh_a"), "doc_a")
      .join(candSh.toDF("doc_b", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (DedupOps.jaccard(col("sh_a"), col("sh_b")) >= 0.7).as("is_true"))
      .cache()
    // the ground-truth total rides a broadcast 1-row frame instead of a
    // driver count() action (r19): one eager job fewer, and the scored/
    // candSh caches stay live through the SINGLE final checkpoint job
    // that now materializes everything (same values — sum(when) over the
    // cached frame is the filter-count, and the division is the same
    // IEEE op on the same long)
    val totalTrue = scored
      .agg(sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true_total"))
    val res = cand.join(scored, Seq("doc_a", "doc_b"))
      .groupBy(col("rows_per_band"), col("n_bands"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true_caught"))
      .crossJoin(broadcast(totalTrue))
      .withColumn("recall",
        when(col("n_true_total") === 0, lit(null).cast(DoubleType))
          .otherwise(col("n_true_caught").cast(DoubleType) /
            col("n_true_total").cast(DoubleType)))
      .localCheckpoint(true)
    cand.unpersist()
    scored.unpersist()
    candSh.unpersist()
    res
  }

  val x98Oracle: String = {
    val configs = Seq((1, 8), (2, 4), (4, 2), (8, 1))
    val bandCtes = configs.map { case (r, b) =>
      s"bands_${r}_$b AS (\n      ${lshBandRowsSql(r, b)})"
    }.mkString(",\n")
    val candArms = configs.map { case (r, b) =>
      s"""SELECT DISTINCT $r AS rows_per_band, $b AS n_bands,
         |    a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands_${r}_$b a JOIN bands_${r}_$b b
         |    ON a.band_key = b.band_key AND a.band_idx = b.band_idx
         |    AND a.doc_id < b.doc_id""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH $lshSigCtes,
       |$bandCtes,
       |cand AS (
       |  $candArms),
       |dp AS (SELECT DISTINCT doc_a, doc_b FROM cand),
       |sc AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
       |    CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))
       |      AS DOUBLE) >= 0.7 AS is_true
       |  FROM dp p JOIN sh x ON x.doc_id = p.doc_a
       |            JOIN sh y ON y.doc_id = p.doc_b),
       |tot AS (SELECT COUNT(*) AS n_true_total FROM sc WHERE is_true)
       |SELECT c.rows_per_band, c.n_bands,
       |  COUNT(*) AS n_candidates,
       |  CAST(SUM(CASE WHEN s.is_true THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_true_caught,
       |  CAST(t.n_true_total AS BIGINT) AS n_true_total,
       |  CASE WHEN t.n_true_total = 0 THEN NULL
       |       ELSE CAST(SUM(CASE WHEN s.is_true THEN 1 ELSE 0 END) AS DOUBLE)
       |            / t.n_true_total END AS recall
       |FROM cand c JOIN sc s ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b
       |CROSS JOIN tot t
       |GROUP BY c.rows_per_band, c.n_bands, t.n_true_total""".stripMargin
  }

  /** Vocabulary GROWTH curve (Heaps-law audit) — how fast the type
    * inventory grows with corpus size, the planning fact behind "is
    * more data still buying vocabulary?" and tokenizer sizing: docs
    * are assigned to nested corpus fractions (10% ⊂ 25% ⊂ 50% ⊂ 100%
    * by a deterministic id-hash draw), and the curve = distinct tokens
    * present in each prefix. Computed in ONE corpus pass with the
    * first-tier trick: per TOKEN, the smallest fraction containing it
    * (a map-side-combining `min` over the token key — the corpus never
    * shuffles at token granularity twice); the running sum over the
    * 4-row tier frame is a toy window. Every tier row is anchored even
    * when no token debuts there. */
  def x99_vocab_growth(spark: SparkSession, dir: String): DataFrame = {
    val draw = TextOps.stableHash64(
      concat(lit("vg:"), col("doc_id").cast(StringType))) % 100
    val tier = when(draw < 10, 10).when(draw < 25, 25)
      .when(draw < 50, 50).otherwise(100)
    val firstTier = documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .withColumn("tier", tier)
      .groupBy(col("w")).agg(min(col("tier")).as("first_tier"))
    val debut = firstTier.groupBy(col("first_tier"))
      .agg(count(lit(1)).as("new_types"))
    val anchor = spark.range(1).select(
      explode(array(lit(10), lit(25), lit(50), lit(100))).as("first_tier"))
    val filled = anchor.join(debut, Seq("first_tier"), "left")
      .select(col("first_tier").as("tier"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("tier"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    filled.withColumn("vocab_size", sum(col("new_types")).over(w))
      .select(col("tier").cast(IntegerType).as("tier"),
        col("new_types"), col("vocab_size"))
  }

  val x99Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w
      |  FROM documents),
      |d AS (
      |  SELECT w,
      |    CAST(('0x' || substr(md5('vg:' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) % 100 AS draw
      |  FROM t WHERE w <> ''),
      |ft AS (
      |  SELECT w, MIN(CASE WHEN draw < 10 THEN 10 WHEN draw < 25 THEN 25
      |    WHEN draw < 50 THEN 50 ELSE 100 END) AS first_tier
      |  FROM d GROUP BY w),
      |debut AS (
      |  SELECT first_tier, COUNT(*) AS new_types FROM ft GROUP BY first_tier),
      |anchor(tier) AS (SELECT * FROM (VALUES (10), (25), (50), (100)) v(t)),
      |filled AS (
      |  SELECT a.tier, CAST(coalesce(d.new_types, 0) AS BIGINT) AS new_types
      |  FROM anchor a LEFT JOIN debut d ON a.tier = d.first_tier)
      |SELECT CAST(tier AS INT) AS tier, new_types,
      |  CAST(SUM(new_types) OVER (ORDER BY tier
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
      |FROM filled""".stripMargin

  /** Token-frequency SPECTRUM (Zipf audit) — the frequency-of-
    * frequencies table a vocabulary/tokenizer plan reads: for each
    * occurrence count, how many types carry it and how much corpus
    * mass they sum to (hapax count = the `wf = 1` row; head mass = the
    * top rows). Vocabulary-sized input ([[stagedWordFreq]] — zero
    * extra corpus tokenizes), one partial-combining aggregate. */
  def x100_zipf_spectrum(spark: SparkSession, dir: String): DataFrame =
    stagedWordFreq(spark, dir)
      .groupBy(col("wf"))
      .agg(count(lit(1)).as("n_types"))
      .select(col("wf").cast(LongType).as("occurrences"), col("n_types"),
        (col("wf") * col("n_types")).cast(LongType).as("token_mass"))

  val x100Oracle: String =
    """WITH t AS (
      |  SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |wf AS (
      |  SELECT w, COUNT(*) AS wf FROM t
      |  WHERE w <> '' AND NOT contains(w, chr(31)) GROUP BY w)
      |SELECT CAST(wf AS BIGINT) AS occurrences,
      |  COUNT(*) AS n_types,
      |  CAST(wf * COUNT(*) AS BIGINT) AS token_mass
      |FROM wf GROUP BY wf""".stripMargin

  /** TRIGRAM LM with stupid backoff — the production upgrade over
    * x94's bigram gate (Brants et al. 2007: at web scale, unsmoothed
    * relative frequencies with a fixed 0.4 backoff multiplier match
    * Kneser-Ney at a fraction of the cost — exactly the regime a
    * 100 TB curation pipeline sits in): score(c | a,b) =
    * count(abc)/count(ab) when the trigram was seen, else
    * 0.4 · (count(bc)+1)/(ctx(b)+V) — the add-one bigram floor keeps
    * the backoff total and exact. Scoring stays libm-free: every
    * branch is one IEEE division (the backoff's 0.4· is one exact
    * double multiply) cast to the tie-free DECIMAL(24,14), summed in
    * exact decimal, with the keep gate in integer/decimal space.
    * Emits per doc: trigram positions, seen-trigram count (the
    * coverage signal), exact-decimal score sum (DOUBLE at the edge)
    * and keep.
    * Scale shape: THREE partial-combining corpus aggregates (trigram,
    * leading-pair, bigram+context from x94's machinery), all
    * term-keyed equi-joins, scalar V broadcast, no corpus window. */
  def x101_trigram_backoff(spark: SparkSession, dir: String): DataFrame = {
    def triplesOf(d: DataFrame, withId: Boolean): DataFrame = {
      val base = d.filter(size(col("toks")) >= 3)
        .select((if (withId) Seq(col("doc_id")) else Nil) :+ explode(
          graft.functions.NativeFunctions.tokenTuples(col("toks"), 3))
          .as("tr"): _*)
      base.select((if (withId) Seq(col("doc_id")) else Nil) ++
        Seq(col("tr.a").as("a"), col("tr.b").as("b"), col("tr.c").as("c")): _*)
        .filter(col("a") =!= "" && col("b") =!= "" && col("c") =!= "")
    }
    val docs = documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    // held-out split, the x97 convention: the LM trains on the STANDING
    // corpus, the delta scores against it — which is what makes the
    // backoff branch a live path (an unseen trigram backs off to the
    // add-one bigram floor) instead of train-on-self dead code
    val standing = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
    val tri = triplesOf(standing, withId = false)
      .groupBy(col("a"), col("b"), col("c")).agg(count(lit(1)).as("tn"))
    val pairs = standing
      .filter(size(col("toks")) >= 2)
      .select(explode(
        graft.functions.NativeFunctions.tokenTuples(col("toks"), 2)).as("pr"))
      .select(col("pr.a").as("b"), col("pr.b").as("c"))
      .filter(col("b") =!= "" && col("c") =!= "")
    // trigram-lead totals roll up from the trigram table itself (a
    // trigram-sized aggregate, not a corpus pass), so tn/ln is a true
    // conditional: Σ_c P(c|a,b) = 1 over seen continuations
    val lead = tri.groupBy(col("a"), col("b")).agg(sum(col("tn")).as("ln"))
    val big = pairs.groupBy(col("b"), col("c")).agg(count(lit(1)).as("bn"))
    val ctx = pairs.groupBy(col("b")).agg(count(lit(1)).as("un"))
    val v = standing.select(explode(col("toks")).as("t"))
      .filter(col("t") =!= "")
      .agg(countDistinct(col("t"))).head().getLong(0)
    triplesOf(delta, withId = true)
      .join(tri, Seq("a", "b", "c"), "left")
      .join(lead, Seq("a", "b"), "left")
      .join(big, Seq("b", "c"), "left")
      .join(ctx, Seq("b"), "left")
      .withColumn("cp",
        when(col("tn").isNotNull && col("ln").isNotNull,
          col("tn").cast(DoubleType) / col("ln").cast(DoubleType))
          .otherwise(lit(0.4) *
            ((coalesce(col("bn"), lit(0L)) + lit(1)).cast(DoubleType) /
              (coalesce(col("un"), lit(0L)) + lit(v)).cast(DoubleType)))
          .cast(DecimalType(24, 14)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("tn").isNotNull, 1L).otherwise(0L)).as("n_seen"),
        sum(col("cp")).cast(DecimalType(30, 14)).as("sum_cp_x"))
      .withColumn("keep", col("sum_cp_x") * 20 > col("n_trigrams"))
      .withColumn("sum_score", col("sum_cp_x").cast(DoubleType))
      .select(col("doc_id"), col("n_trigrams"), col("n_seen"),
        col("sum_score"), col("keep"))
  }

  val x101Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      |strr AS (
      |  SELECT unnest(list_transform(generate_series(2, len(w) - 1),
      |      i -> struct_pack(a := w[i-1], b := w[i], c := w[i+1]))) AS tr
      |  FROM toks WHERE doc_id % 10 <> 7 AND len(w) >= 3),
      |stp AS (
      |  SELECT tr.a AS a, tr.b AS b, tr.c AS c FROM strr
      |  WHERE tr.a <> '' AND tr.b <> '' AND tr.c <> ''),
      |tri AS (SELECT a, b, c, COUNT(*) AS tn FROM stp GROUP BY 1, 2, 3),
      |lead3 AS (SELECT a, b, SUM(tn) AS ln FROM tri GROUP BY 1, 2),
      |prr AS (
      |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
      |    i -> struct_pack(b := w[i], c := w[i+1]))) AS pr
      |  FROM toks WHERE doc_id % 10 <> 7 AND len(w) >= 2),
      |pp AS (
      |  SELECT pr.b AS b, pr.c AS c FROM prr
      |  WHERE pr.b <> '' AND pr.c <> ''),
      |big AS (SELECT b, c, COUNT(*) AS bn FROM pp GROUP BY 1, 2),
      |ctx AS (SELECT b, COUNT(*) AS un FROM pp GROUP BY 1),
      |voc AS (
      |  SELECT COUNT(DISTINCT t) AS v
      |  FROM (SELECT unnest(w) AS t FROM toks WHERE doc_id % 10 <> 7) u
      |  WHERE t <> ''),
      |dtrr AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(2, len(w) - 1),
      |      i -> struct_pack(a := w[i-1], b := w[i], c := w[i+1]))) AS tr
      |  FROM toks WHERE doc_id % 10 = 7 AND len(w) >= 3),
      |dtp AS (
      |  SELECT doc_id, tr.a AS a, tr.b AS b, tr.c AS c FROM dtrr
      |  WHERE tr.a <> '' AND tr.b <> '' AND tr.c <> ''),
      |sc AS (
      |  SELECT t.doc_id, tri.tn,
      |    CAST(CASE WHEN tri.tn IS NOT NULL AND l.ln IS NOT NULL
      |      THEN CAST(tri.tn AS DOUBLE) / CAST(l.ln AS DOUBLE)
      |      ELSE 0.4 * (CAST(coalesce(bg.bn, 0) + 1 AS DOUBLE) /
      |        CAST(coalesce(cx.un, 0) + voc.v AS DOUBLE)) END
      |      AS DECIMAL(24,14)) AS cp
      |  FROM dtp t
      |  LEFT JOIN tri ON t.a = tri.a AND t.b = tri.b AND t.c = tri.c
      |  LEFT JOIN lead3 l ON t.a = l.a AND t.b = l.b
      |  LEFT JOIN big bg ON t.b = bg.b AND t.c = bg.c
      |  LEFT JOIN ctx cx ON t.b = cx.b
      |  CROSS JOIN voc)
      |SELECT doc_id, COUNT(*) AS n_trigrams,
      |  CAST(SUM(CASE WHEN tn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_seen,
      |  CAST(CAST(SUM(cp) AS DECIMAL(30,14)) AS DOUBLE) AS sum_score,
      |  CAST(SUM(cp) AS DECIMAL(30,14)) * 20 > COUNT(*) AS keep
      |FROM sc GROUP BY doc_id""".stripMargin

  /** Language LABEL-NOISE audit — the confusion matrix between the
    * corpus's declared language labels and x03's n-gram language ID:
    * per (labeled, predicted) cell, document count and the share of the
    * labeled row (so a noisy label pool shows up as off-diagonal mass).
    * The standard pre-training sanity check before per-language quotas
    * (x25/x46) or tiers (x95) trust the label column. Scale shape: one
    * narrow scoring projection (x03's marker counts, codegen'd) + one
    * partial-combining cell aggregate + a broadcast row-total join —
    * |langs|² cells, no corpus window. */
  def x102_lang_confusion(spark: SparkSession, dir: String): DataFrame = {
    val scored = x03_langid(spark, dir)
      .select(col("labeled_lang"), col("predicted_lang"))
    val cells = scored.groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = scored.groupBy(col("labeled_lang"))
      .agg(count(lit(1)).as("__graft_lt"))
    cells.join(broadcast(totals), Seq("labeled_lang"))
      .withColumn("row_share",
        col("n_docs").cast(DoubleType) / col("__graft_lt").cast(DoubleType))
      .withColumn("agree", col("labeled_lang") === col("predicted_lang"))
      .select(col("labeled_lang"), col("predicted_lang"), col("n_docs"),
        col("row_share"), col("agree"))
  }

  val x102Oracle: String =
    "WITH x03 AS (\n" + x03Oracle + "\n),\n" +
    """cells AS (
      |  SELECT labeled_lang, predicted_lang, COUNT(*) AS n_docs
      |  FROM x03 GROUP BY 1, 2),
      |tot AS (
      |  SELECT labeled_lang, COUNT(*) AS t FROM x03 GROUP BY 1)
      |SELECT c.labeled_lang, c.predicted_lang, c.n_docs,
      |  CAST(c.n_docs AS DOUBLE) / CAST(t.t AS DOUBLE) AS row_share,
      |  c.labeled_lang = c.predicted_lang AS agree
      |FROM cells c JOIN tot t ON c.labeled_lang = t.labeled_lang""".stripMargin

  /** Cross-SOURCE near-dup matrix — which sources re-host which: every
    * verified ≥0.7-jaccard pair mapped to its (source, source) cell,
    * order-normalized so (A,B) and (B,A) aggregate together. The
    * off-diagonal cells are the mirror/syndication structure a crawl
    * dedup plan keys on (drop the mirror wholesale instead of paying
    * pairwise dedup); the diagonal is within-source duplication. Sixth
    * consumer of [[stagedLshScoredPairs]]: candidate-sized work + two
    * broadcast-able doc→source probes, no corpus rescan. */
  def x103_cross_source_neardup(spark: SparkSession, dir: String): DataFrame = {
    val pairs = stagedLshScoredPairs(spark, dir)
      .filter(col("jaccard") >= 0.7)
      .select(col("doc_a"), col("doc_b"))
    val src = documents(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")),
        Seq("doc_b"))
      .withColumn("src_lo", least(col("src_a"), col("src_b")))
      .withColumn("src_hi", greatest(col("src_a"), col("src_b")))
      .groupBy(col("src_lo"), col("src_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", col("src_lo") =!= col("src_hi"))
  }

  val x103Oracle: String =
    s"WITH $lshScoredCtes,\n" +
    """fired AS (
      |  SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.7),
      |j AS (
      |  SELECT least(a.source, b.source) AS src_lo,
      |         greatest(a.source, b.source) AS src_hi
      |  FROM fired f
      |  JOIN documents a ON f.doc_a = a.doc_id
      |  JOIN documents b ON f.doc_b = b.doc_id)
      |SELECT src_lo, src_hi, COUNT(*) AS n_pairs,
      |  src_lo <> src_hi AS cross_source
      |FROM j GROUP BY src_lo, src_hi""".stripMargin

  /** Embedding-table HEALTH audit — the data-quality gate an ANN/dedup
    * plane runs before trusting its vectors: per dimensionality class,
    * vector count, zero-norm count (a zero vector poisons cosine with
    * division by zero), and the exact min/max/total of the quantized
    * squared norms (the 1e-4 integer grid keeps every aggregate
    * order-independent — a double norm SUM would be order-dependent and
    * unhashable). A multi-dimensionality table or a zero-norm block is
    * exactly what this surfaces before x08/x09/x11 consume the column.
    * Scale shape: one narrow quantize projection + one
    * partial-combining aggregate; zero joins, zero windows. */
  def x104_embedding_health(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .select(size(col("embedding")).as("dims"),
        SimilarityOps.qnorm2(SimilarityOps.quantize(col("embedding")))
          .as("qn2"))
      .groupBy(col("dims"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("qn2") === 0, 1L).otherwise(0L)).as("n_zero_norm"),
        min(col("qn2")).as("min_qnorm2"),
        max(col("qn2")).as("max_qnorm2"),
        sum(col("qn2")).as("sum_qnorm2"))

  val x104Oracle: String =
    """WITH q AS (
      |  SELECT len(embedding) AS dims,
      |    list_sum(list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) *
      |           CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))) AS qn2
      |  FROM embeddings)
      |SELECT CAST(dims AS INT) AS dims, COUNT(*) AS n_vectors,
      |  CAST(SUM(CASE WHEN qn2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_zero_norm,
      |  CAST(MIN(qn2) AS BIGINT) AS min_qnorm2,
      |  CAST(MAX(qn2) AS BIGINT) AS max_qnorm2,
      |  CAST(SUM(qn2) AS BIGINT) AS sum_qnorm2
      |FROM q GROUP BY dims""".stripMargin

  /** MANIFEST DIFF between corpus generations — the incremental
    * republish primitive x88's manifests exist for: two generations
    * (x91's old/new convention — docs leave, docs arrive, some texts
    * revise) each roll up to per-shard order-blind XOR fingerprints
    * over a GENERATION-STABLE id-hash shard key, and the diff is a
    * 16-row full-outer join naming exactly the shards whose content
    * changed. A 100 TB republish then rewrites ONLY those shards —
    * manifest rows replace corpus scans. Fingerprints hash
    * (id, text-md5) so an in-place revision flips its shard.
    * Scale shape: two narrow manifest aggregates (partial-combining)
    * + one shards-sized join; the corpus never shuffles. */
  def x105_manifest_diff(spark: SparkSession, dir: String): DataFrame = {
    def manifest(docs: DataFrame): DataFrame = docs
      .select(
        pmod(TextOps.stableHash64(
          concat(lit("sh:"), col("doc_id").cast(StringType))), lit(16L))
          .as("shard"),
        TextOps.stableHash64(concat(col("doc_id").cast(StringType),
          lit(":"), md5(col("text")))).as("fp"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(fp)").as("fingerprint"))
    val d = documents(spark, dir)
    val oldGen = d.filter(pmod(col("doc_id"), lit(10L)) =!= 7)
      .select(col("doc_id"), col("text"))
    val newGen = d.filter(pmod(col("doc_id"), lit(10L)) =!= 3)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5L)) === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")).as("text"))
    val mo = manifest(oldGen)
      .select(col("shard"), col("n_docs").as("n_docs_old"),
        col("fingerprint").as("fp_old"))
    val mn = manifest(newGen)
      .select(col("shard"), col("n_docs").as("n_docs_new"),
        col("fingerprint").as("fp_new"))
    mo.join(mn, Seq("shard"), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("dropped"))
          .when(col("fp_old") =!= col("fp_new"), lit("changed"))
          .otherwise(lit("unchanged")))
      .select(col("shard").cast(IntegerType).as("shard"),
        coalesce(col("n_docs_old"), lit(0L)).as("n_docs_old"),
        coalesce(col("n_docs_new"), lit(0L)).as("n_docs_new"),
        col("status"))
  }

  val x105Oracle: String =
    """WITH oldg AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7),
      |newg AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 10 <> 3),
      |mo AS (
      |  SELECT CAST(('0x' || substr(md5('sh:' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) % 16 AS shard,
      |    COUNT(*) AS n_docs_old,
      |    bit_xor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |      md5(text)), 1, 15)) AS BIGINT)) AS fp_old
      |  FROM oldg GROUP BY 1),
      |mn AS (
      |  SELECT CAST(('0x' || substr(md5('sh:' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) % 16 AS shard,
      |    COUNT(*) AS n_docs_new,
      |    bit_xor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |      md5(text)), 1, 15)) AS BIGINT)) AS fp_new
      |  FROM newg GROUP BY 1)
      |SELECT CAST(coalesce(mo.shard, mn.shard) AS INT) AS shard,
      |  CAST(coalesce(n_docs_old, 0) AS BIGINT) AS n_docs_old,
      |  CAST(coalesce(n_docs_new, 0) AS BIGINT) AS n_docs_new,
      |  CASE WHEN mo.shard IS NULL THEN 'added'
      |       WHEN mn.shard IS NULL THEN 'dropped'
      |       WHEN fp_old <> fp_new THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM mo FULL OUTER JOIN mn ON mo.shard = mn.shard""".stripMargin

  /** Incremental inverted-index maintenance — x53's df-banded index
    * updated for a delta batch WITHOUT rebuilding from the corpus: the
    * x72/x85/x105 incremental-family member for the search-side
    * artifact. The standing store persists (1) the full df table
    * (vocab-sized) and (2) postings for banded terms (df ∈ [2, 32]).
    * A delta arrives (the x72 `doc_id % 10 = 7` convention): ONLY the
    * delta tokenizes for counting; new df = stored df + delta df (one
    * vocab-sized full-outer join). Terms still banded keep their stored
    * postings and append the delta's; terms ENTERING the band (stored
    * df < 2) backfill their ≤ 1 corpus posting through a BROADCAST of
    * the entering-term set — a targeted probe, never a corpus rebuild
    * (a production store persists a forward index and skips even that);
    * terms leaving the band (new df > 32) drop. The oracle is x53's
    * FULL REBUILD over corpus ∪ delta — the gate certifies incremental
    * maintenance loses nothing, exactly the x85 append contract.
    *
    * Scale shape: per-batch work = delta tokenize + vocab-sized df
    * merge + term-keyed joins bounded at 32 rows/term; the stored-side
    * frames are cache()d here because this gate MATERIALIZES the store
    * in-query (three consumers), then released (x06 lifecycle rule). */
  def x106_incremental_index(spark: SparkSession, dir: String): DataFrame = {
    val (updated, caches) = incrementalIndexUpdate(spark, dir)
    val res = updated.localCheckpoint(true)
    caches.foreach(_.unpersist())
    res
  }

  /** The un-checkpointed x106 (updated-index frame + the staged store
    * caches it holds), exposed so PlanShapeSpec can pin the broadcast
    * backfill probe that `localCheckpoint` erases from the public
    * query's plan (the q79/x72 pattern). */
  private[graft] def incrementalIndexUpdate(spark: SparkSession,
      dir: String): (DataFrame, Seq[DataFrame]) = {
    val docs = documents(spark, dir).select(col("doc_id"), col("text"))
    val isDelta = pmod(col("doc_id"), lit(10L)) === 7
    def termsOf(d: DataFrame): DataFrame = d.select(col("doc_id"),
      explode(array_distinct(
        TextOps.ngrams(TextOps.tokens(col("text")), 2))).as("term"))
    // the persisted store: (doc_id, term) forward rows for the standing
    // corpus — staged once, three consumers (df table, stored postings,
    // entering-term backfill)
    val corpusTerms = termsOf(docs.filter(!isDelta)).cache()
    val deltaTerms = termsOf(docs.filter(isDelta)).cache()
    val dfC = corpusTerms.groupBy(col("term")).agg(count(lit(1)).as("df_c"))
    val dfD = deltaTerms.groupBy(col("term")).agg(count(lit(1)).as("df_d"))
    val dfNew = dfC.join(dfD, Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("df_c"), lit(0L)) + coalesce(col("df_d"), lit(0L)))
          .as("df"),
        coalesce(col("df_c"), lit(0L)).as("df_c"))
      .filter(col("df") >= 2 && col("df") <= 32)
    // stored postings stay valid for terms banded BEFORE the delta
    // (df_c ∈ [2, 32] — the ≤ 32 half is implied by df_c ≤ df ≤ 32)
    val keptTerms = dfNew.filter(col("df_c") >= 2).select(col("term"))
    // terms entering the band carry ≤ 1 unstored corpus posting each:
    // the term set is small by construction — broadcast it into the
    // forward index, a targeted backfill probe
    val enteringTerms = dfNew.filter(col("df_c") < 2).select(col("term"))
    val rows = corpusTerms.join(keptTerms, Seq("term"))
      .unionByName(corpusTerms.join(broadcast(enteringTerms), Seq("term")))
      .unionByName(deltaTerms.join(dfNew.select(col("term")), Seq("term")))
    val updated = rows.groupBy(col("term"))
      .agg(concat_ws(",",
        transform(sort_array(collect_list(col("doc_id"))),
          d => d.cast(StringType))).as("postings"))
      .join(dfNew.select(col("term"), col("df")), Seq("term"))
      .select(col("term"), col("df"), col("postings"))
    (updated, Seq(corpusTerms, deltaTerms))
  }

  /** Full rebuild over corpus ∪ delta = ALL documents — x53's oracle
    * verbatim: the incremental path must reproduce it bit-for-bit. */
  val x106Oracle: String =
    """WITH ws AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      |t AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i + 1])) AS term
      |  FROM ws),
      |rare AS (
      |  SELECT term, COUNT(*) AS df FROM t GROUP BY term
      |  HAVING COUNT(*) BETWEEN 2 AND 32)
      |SELECT t.term, rare.df,
      |  array_to_string(list_sort(list(t.doc_id)), ',') AS postings
      |FROM t JOIN rare ON t.term = rare.term
      |GROUP BY t.term, rare.df""".stripMargin

  /** BM25-weighted sparse retrieval — the scored top-k lookup a
    * curation pipeline runs over x53/x106's index plane (retrieval-
    * based decontamination, nearest-neighbor text probes, eval-set
    * mining; Robertson & Zaragoza 2009). Four probe terms pick
    * themselves deterministically (df ∈ [8, 32], heaviest df first —
    * the discriminative band, so CANDIDATE VOLUME IS BOUNDED AT df ≤ 32
    * PER QUERY by construction); each candidate scores with the full
    * BM25 per-term machinery (k1 = 1.2, b = 0.75): the rational idf
    * odds ((N − df + 0.5)/(df + 0.5)) × tf saturation with length
    * normalization — NO libm log anywhere, and NO decimal cast either:
    * the score is a chain of IEEE +×/ ops with evaluation order pinned
    * by parens, never SUMMED across rows, so the raw double is already
    * bit-reproducible in both engines (x94's decimal convention exists
    * for order-blind SUMS; a double→DECIMAL(p,14) cast here would
    * DIVERGE — DuckDB rounds via value×10¹⁴ in IEEE, Spark converts
    * exactly, and they disagree at grid boundaries — observed on 3/40
    * rows before this was dropped). Ranking orders by (score, doc_id).
    *
    * Scale shape: ONE corpus tokenize builds the (doc, term, tf) table
    * (the positional-free index a store persists — cached here, three
    * consumers: df table, doc lengths, probe); query terms ride a
    * BROADCAST into it; the ranking window runs over ≤ |queries| × 32
    * candidate rows — tiny at any corpus size, the df band is the
    * contract (x53's reasoning on the scoring plane). */
  def x107_sparse_retrieval(spark: SparkSession, dir: String): DataFrame = {
    val (ranked, caches) = sparseRetrievalRanked(spark, dir)
    val res = ranked.localCheckpoint(true)
    caches.foreach(_.unpersist())
    res
  }

  /** The un-checkpointed x107 (ranked frame; the caches seq is empty
    * since the tf table moved behind [[stagedBigramTf]]), exposed for
    * PlanShapeSpec's broadcast/TakeOrdered pins. */
  private[graft] def sparseRetrievalRanked(spark: SparkSession,
      dir: String): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    val tf = stagedBigramTf(spark, dir)
    val dfx = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // deterministic probe set: heaviest discriminative terms — a
    // TakeOrdered over the vocab-sized df table (the x65 pattern)
    val q = dfx.filter(col("df") >= 8 && col("df") <= 32)
      .orderBy(col("df").desc, col("term")).limit(4)
      .select(col("term"), col("df"))
    val lens = tf.groupBy(col("doc_id"))
      .agg((lit(1L) + sum(col("tf"))).as("len"))
    val stats = lens.agg(count(lit(1)).as("nd"),
      (sum(col("len")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    val idf = ((col("nd").cast(DoubleType) - col("df").cast(DoubleType))
      + lit(0.5)) / (col("df").cast(DoubleType) + lit(0.5))
    val sat = (col("tf").cast(DoubleType) * lit(2.2)) /
      (col("tf").cast(DoubleType) + lit(1.2) *
        (lit(0.25) + lit(0.75) * (col("len").cast(DoubleType) / col("avgdl"))))
    val cand = tf.join(broadcast(q.withColumnRenamed("term", "query_term")),
        col("term") === col("query_term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("w", idf * sat)
    val ranked = cand
      // ≤ 4 partitions × ≤ 32 candidates — the window frame is bounded
      // by the df band at ANY corpus size, so the raw window is safe
      .withColumn("rnk", row_number().over(Window.partitionBy(col("query_term"))
        .orderBy(col("w").desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
      .select(col("query_term"), col("rnk").cast(IntegerType).as("rnk"),
        col("doc_id"), col("w").as("score"))
    (ranked, Seq.empty)
  }

  val x107Oracle: String =
    """WITH ws AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      |t AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i + 1])) AS term
      |  FROM ws),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
      |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |q AS (
      |  SELECT term AS query_term, df FROM dfx
      |  WHERE df BETWEEN 8 AND 32 ORDER BY df DESC, term LIMIT 4),
      |lens AS (SELECT doc_id, 1 + SUM(tf) AS len FROM tf GROUP BY doc_id),
      |stats AS (
      |  SELECT COUNT(*) AS nd,
      |    CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
      |  FROM lens),
      |cand AS (
      |  SELECT q.query_term, tf.doc_id,
      |    (((CAST(nd AS DOUBLE) - CAST(q.df AS DOUBLE)) + 0.5)
      |        / (CAST(q.df AS DOUBLE) + 0.5))
      |      * ((CAST(tf AS DOUBLE) * 2.2)
      |        / (CAST(tf AS DOUBLE) + 1.2
      |          * (0.25 + 0.75 * (CAST(len AS DOUBLE) / avgdl)))) AS w
      |  FROM tf JOIN q ON tf.term = q.query_term
      |  JOIN lens ON tf.doc_id = lens.doc_id
      |  CROSS JOIN stats)
      |SELECT query_term, CAST(rnk AS INT) AS rnk, doc_id, w AS score
      |FROM (
      |  SELECT query_term, doc_id, w,
      |    ROW_NUMBER() OVER (PARTITION BY query_term
      |      ORDER BY w DESC, doc_id) AS rnk
      |  FROM cand)
      |WHERE rnk <= 10""".stripMargin

  /** Product-quantization ANN with asymmetric distance (PQ/ADC,
    * Jégou et al. 2011) — the memory-compression half of a vector
    * store beside x11's IVF cells: 64-dim vectors store as 32 six-bit
    * codes (24 bytes, 10.7× compression) and search is a SUM OF TABLE
    * LOOKUPS per candidate, no per-candidate float math. All
    * arithmetic is exact integers on the 1e-4 grid, so training
    * (seeded one-iteration Lloyd — [[graft.sim.PqIndex]] documents the
    * bounded-rounds convention and the measured config dial), encoding,
    * and ADC ranking replay in DuckDB.
    *
    * Scale shape: codebooks are m × 64 rows broadcast into narrow
    * passes; the LUT is |queries| × m × 64 broadcast; the exhaustive
    * ADC scan is the honest PQ cost a deployment bounds by composing
    * with IVF cell pruning (IVF-PQ). */
  def x108_pq_ann(spark: SparkSession, dir: String): DataFrame =
    stagedAdcTopK(spark, dir, "m32_d2_k64", 32, 2, 64)
      .filter(col("rank") <= 5)

  /** [[graft.ops.Staged]] staging of one PQ config's ADC top-k:
    * train/encode/rank ONCE per (corpus, config, build), read the
    * bucketed artifact afterwards. The fine m32 config stages the ADC
    * top-100 — the single deepest consumer (x121's re-rank candidate
    * pool) sets the staged depth, and every shallower consumer (x108's
    * top-5, x111's fine frontier leg, x113's dense retrieval leg at
    * 10, x120's dense leg) is a rank filter over the SAME table: the
    * ADC ranking is deterministic (adc_dist, neighbor_id), so a prefix
    * of the top-100 IS the top-5/top-10. The coarser frontier configs
    * stage at 5 (no deeper consumer). A tuning rerun costs a scan, not
    * a pipeline; the family carries the config tag + depth so sibling
    * stagings never evict each other. */
  private def stagedAdcTopK(spark: SparkSession, dir: String, tag: String,
      m: Int, sd: Int, ncw: Int): DataFrame = {
    val k = if (tag == "m32_d2_k64") 100 else 5
    Staged.tables(spark, Staged.Stage(s"adc_${tag}_k$k", dir, Seq("embeddings.parquet")))(
      new Staged.Table("topk", "query_id",
        graft.sim.PqIndex.adcTopK(embeddings(spark, dir), "vec_id",
          "embedding", queryPred = col("vec_id") < 10, k = k,
          m = m, subDim = sd, nCw = ncw))).head
  }

  /** [[graft.ops.Staged]] staging of the EXACT integer-L2 top-5 ground truth
    * for the vec_id < 10 query set — the |Q|×N ranking every recall
    * audit scores against (x111's frontier, SourcesAndIvfSpec's x108
    * audit). Computed once per corpus; query-bounded (|Q| = 10), so the
    * build itself is a narrow broadcast-side cross of 10 rows against
    * the table, never N×N. */
  def stagedExactTop5(spark: SparkSession, dir: String): DataFrame = {
    import graft.sim.SimilarityOps
    def build: DataFrame = {
      val qv = embeddings(spark, dir).select(col("vec_id"),
        SimilarityOps.quantize(col("embedding")).as("qv"))
      qv.filter(col("vec_id") < 10).toDF("query_id", "qa")
        .crossJoin(qv.toDF("neighbor_id", "qb"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("d", aggregate(zip_with(col("qa"), col("qb"),
          (x, y) => (x - y) * (x - y)), lit(0L), (a, v) => a + v))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("d"), col("neighbor_id"))))
        .filter(col("rnk") <= 5)
        .select(col("query_id"), col("neighbor_id"))
    }
    Staged.tables(spark, Staged.Stage("exacttop5", dir, Seq("embeddings.parquet")))(
      new Staged.Table("top5", "query_id", build)).head
  }

  /** [[graft.ops.Staged]] staging of the bigram term-frequency table
    * `(doc_id, term, tf)` — the inverted-index build every sparse
    * retrieval consumer shares (x107's BM25, x113's sparse leg,
    * x120's ablation sparse leg). Tokenize + explode + count runs
    * ONCE per corpus; afterwards each consumer reads the bucketed
    * artifact. Bucketed and sorted by `term`: the per-term statistics
    * (df) and the query-term candidate join both key on term, so they
    * ride the bucket layout instead of re-shuffling the exploded
    * corpus. At 100 TB this is the "build the index once, query it
    * many times" lifecycle of a production retrieval stack — the
    * explode alone multiplies the corpus by the mean bigram count,
    * the single most expensive map in this plane. */
  private[graft] def stagedBigramTf(spark: SparkSession,
      dir: String): DataFrame = {
    def build: DataFrame = documents(spark, dir)
      .select(col("doc_id"),
        explode(TextOps.ngrams(TextOps.tokens(col("text")), 2)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    Staged.tables(spark, Staged.Stage("bigramtf", dir, Seq("documents.parquet")))(
      new Staged.Table("tf", "term", build)).head
  }

  /** The shared doc-to-doc BM25 sparse leg over [[stagedBigramTf]]
    * (x113 consumes k = 10, x120 k = 5): query docs (doc_id < 10)
    * probe their own df-banded discriminative bigrams (2 ≤ df ≤ 32,
    * so candidates stay ≤ 32 docs/term at ANY corpus size), each
    * candidate scores the bit-identical IEEE BM25 chain QUANTIZED to
    * the 1e-6 integer grid with floor(x+0.5) (the x37 convention) so
    * the cross-term sum is order-blind exact integers, and ranks
    * tie-break on doc_id. Output: (query_id, doc_id, r_sparse ≤ k). */
  private[graft] def bm25SparseTopK(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = stagedBigramTf(spark, dir)
    val dfx = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= 32)
    val lens = tf.groupBy(col("doc_id"))
      .agg((lit(1L) + sum(col("tf"))).as("len"))
    val stats = lens.agg(count(lit(1)).as("nd"),
      (sum(col("len")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    val qterms = tf.filter(col("doc_id") < 10)
      .join(dfx, Seq("term"))
      .select(col("doc_id").as("query_id"), col("term"), col("df"))
    val idf = ((col("nd").cast(DoubleType) - col("df").cast(DoubleType))
      + lit(0.5)) / (col("df").cast(DoubleType) + lit(0.5))
    val sat = (col("tf").cast(DoubleType) * lit(2.2)) /
      (col("tf").cast(DoubleType) + lit(1.2) *
        (lit(0.25) + lit(0.75) * (col("len").cast(DoubleType) / col("avgdl"))))
    tf.join(qterms, Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      // 1e-6-grid integer weight: the cross-term sum stays exact
      .withColumn("w_int",
        floor((idf * sat) * lit(1000000.0) + lit(0.5)).cast(LongType))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w_int")).as("s_sparse"))
      .withColumn("r_sparse", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("s_sparse").desc, col("doc_id"))))
      .filter(col("r_sparse") <= k)
      .select(col("query_id"), col("doc_id"), col("r_sparse"))
  }

  val x108Oracle: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |sub AS (
      |  SELECT vec_id, s.s AS s, qv[s.s*2+1 : s.s*2+2] AS sv
      |  FROM q, generate_series(0, 31) s(s)),
      |seeds AS (
      |  SELECT vec_id AS cw, s, sv AS cv FROM sub WHERE vec_id < 64),
      |a1 AS (
      |  SELECT sub.vec_id, sub.s, sub.sv, seeds.cw,
      |    list_sum(list_transform(generate_series(1, 2),
      |      i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) AS d
      |  FROM sub JOIN seeds ON sub.s = seeds.s
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s
      |    ORDER BY d, seeds.cw) = 1),
      |cb AS (
      |  SELECT cw, s, p.p AS p,
      |    CAST(floor(CAST(SUM(sv[p.p]) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
      |      AS cwv
      |  FROM a1, generate_series(1, 2) p(p)
      |  GROUP BY cw, s, p),
      |cbv AS (SELECT cw, s, list(cwv ORDER BY p) AS cv FROM cb GROUP BY cw, s),
      |dists AS (
      |  SELECT sub.vec_id, sub.s, cbv.cw,
      |    list_sum(list_transform(generate_series(1, 2),
      |      i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) AS d
      |  FROM sub JOIN cbv ON sub.s = cbv.s),
      |codes AS (
      |  SELECT vec_id, s, cw AS code FROM dists
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cw) = 1),
      |lut AS (
      |  SELECT sub.vec_id AS query_id, sub.s, cbv.cw,
      |    list_sum(list_transform(generate_series(1, 2),
      |      i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) AS qd
      |  FROM sub JOIN cbv ON sub.s = cbv.s
      |  WHERE sub.vec_id < 10),
      |adc AS (
      |  SELECT l.query_id, c.vec_id AS neighbor_id,
      |    CAST(SUM(l.qd) AS BIGINT) AS adc_dist
      |  FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.cw
      |  WHERE l.query_id <> c.vec_id
      |  GROUP BY 1, 2)
      |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, adc_dist
      |FROM (
      |  SELECT query_id, neighbor_id, adc_dist,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY adc_dist, neighbor_id) AS rank
      |  FROM adc)
      |WHERE rank <= 5""".stripMargin

  /** IVF-PQ ANN — x11's cell pruning composed with x108's PQ codes,
    * the full architecture of a production vector store (FAISS's
    * IVFADC): the coarse quantizer (the same seeded-Lloyd machinery
    * with ONE 64-dim subspace × 8 codewords) assigns every vector to a
    * cell, each query probes its 2 nearest cells, and the
    * sum-of-table-lookups ADC ranking runs over ONLY the probed
    * candidates — candidate volume drops by ~nProbe/nCells while
    * storage stays PQ's 24 bytes/vector. Every stage is exact integers
    * on the 1e-4 grid, DuckDB-replayable end-to-end; the recall-vs-
    * speed trade against exhaustive ADC is audited in
    * SourcesAndIvfSpec (the x77 rule).
    *
    * Scale shape: probes are |queries| × nProbe rows broadcast into
    * the cell table; the ADC join is candidate-bounded; codebooks/LUT
    * broadcast as in x108. */
  def x109_ivf_pq(spark: SparkSession, dir: String): DataFrame =
    graft.sim.PqIndex.ivfPqTopK(embeddings(spark, dir), "vec_id",
      "embedding", queryPred = col("vec_id") < 10, k = 5)

  val x109Oracle: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |cseeds AS (SELECT vec_id AS cw, qv AS cv FROM q WHERE vec_id < 8),
      |ca1 AS (
      |  SELECT q.vec_id, q.qv, cseeds.cw,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS d
      |  FROM q CROSS JOIN cseeds
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |    ORDER BY d, cseeds.cw) = 1),
      |ccb AS (
      |  SELECT cw, p.p AS p,
      |    CAST(floor(CAST(SUM(qv[p.p]) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
      |      AS cwv
      |  FROM ca1, generate_series(1, 64) p(p)
      |  GROUP BY cw, p),
      |ccbv AS (SELECT cw, list(cwv ORDER BY p) AS cv FROM ccb GROUP BY cw),
      |cells AS (
      |  SELECT q.vec_id, ccbv.cw AS cell,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS d
      |  FROM q CROSS JOIN ccbv
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |    ORDER BY d, ccbv.cw) = 1),
      |probes AS (
      |  SELECT q.vec_id AS query_id, ccbv.cw AS cell,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS d
      |  FROM q CROSS JOIN ccbv
      |  WHERE q.vec_id < 10
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |    ORDER BY d, ccbv.cw) <= 2),
      |cand AS (
      |  SELECT probes.query_id, cells.vec_id
      |  FROM cells JOIN probes ON cells.cell = probes.cell),
      |sub AS (
      |  SELECT vec_id, s.s AS s, qv[s.s*2+1 : s.s*2+2] AS sv
      |  FROM q, generate_series(0, 31) s(s)),
      |seeds AS (
      |  SELECT vec_id AS cw, s, sv AS cv FROM sub WHERE vec_id < 64),
      |a1 AS (
      |  SELECT sub.vec_id, sub.s, sub.sv, seeds.cw,
      |    list_sum(list_transform(generate_series(1, 2),
      |      i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) AS d
      |  FROM sub JOIN seeds ON sub.s = seeds.s
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s
      |    ORDER BY d, seeds.cw) = 1),
      |cb AS (
      |  SELECT cw, s, p.p AS p,
      |    CAST(floor(CAST(SUM(sv[p.p]) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
      |      AS cwv
      |  FROM a1, generate_series(1, 2) p(p)
      |  GROUP BY cw, s, p),
      |cbv AS (SELECT cw, s, list(cwv ORDER BY p) AS cv FROM cb GROUP BY cw, s),
      |dists AS (
      |  SELECT sub.vec_id, sub.s, cbv.cw,
      |    list_sum(list_transform(generate_series(1, 2),
      |      i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) AS d
      |  FROM sub JOIN cbv ON sub.s = cbv.s),
      |codes AS (
      |  SELECT vec_id, s, cw AS code FROM dists
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cw) = 1),
      |lut AS (
      |  SELECT sub.vec_id AS query_id, sub.s, cbv.cw,
      |    list_sum(list_transform(generate_series(1, 2),
      |      i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) AS qd
      |  FROM sub JOIN cbv ON sub.s = cbv.s
      |  WHERE sub.vec_id < 10),
      |adc AS (
      |  SELECT l.query_id, c.vec_id AS neighbor_id,
      |    CAST(SUM(l.qd) AS BIGINT) AS adc_dist
      |  FROM codes c
      |  JOIN cand ON c.vec_id = cand.vec_id
      |  JOIN lut l ON c.s = l.s AND c.code = l.cw
      |    AND l.query_id = cand.query_id
      |  WHERE l.query_id <> c.vec_id
      |  GROUP BY 1, 2)
      |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, adc_dist
      |FROM (
      |  SELECT query_id, neighbor_id, adc_dist,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY adc_dist, neighbor_id) AS rank
      |  FROM adc)
      |WHERE rank <= 5""".stripMargin

  /** IVF cell-balance audit — the index-health fact that decides
    * whether an IVF deployment works at all: a skewed coarse quantizer
    * (one hot cell holding most of the table) makes every probe scan
    * the hot cell and nProbe meaningless, and EMPTY cells waste the
    * codebook. Reports each cell of x109's replayable coarse quantizer
    * with its member count and integer permille share (empty cells
    * included via the codebook-side join — a groupBy alone would hide
    * exactly the cells the audit exists to expose). The x104
    * embedding-health plane extended to the index; on a real store
    * this runs after every (re)train and gates the index swap.
    *
    * Scale shape: one narrow assign pass (broadcast codebook) + one
    * partial-combining count per cell + an 8-row left join. */
  def x110_ivf_cell_balance(spark: SparkSession, dir: String): DataFrame = {
    import graft.sim.PqIndex
    val emb = embeddings(spark, dir)
    val subFull = PqIndex.subspaces(emb, "vec_id", "embedding", 1, 64)
    val coarseCb = PqIndex.trainCodebooks(subFull, "vec_id", nCw = 8, iters = 1)
    val counts = PqIndex.encode(subFull, coarseCb, "vec_id")
      .groupBy(col("code").as("cell")).agg(count(lit(1)).as("n_vecs"))
    val total = emb.agg(count(lit(1)).as("n_total"))
    coarseCb.select(col("cw").as("cell"))
      .join(counts, Seq("cell"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("cell").cast(IntegerType).as("cell"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        // integer permille: exact, order-blind, both-engine-identical
        // (positive floor division)
        (coalesce(col("n_vecs"), lit(0L)) * 1000L / col("n_total"))
          .cast(LongType).as("permille"),
        coalesce(col("n_vecs"), lit(0L)) === 0L).toDF(
        "cell", "n_vecs", "permille", "is_empty")
  }

  val x110Oracle: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |cseeds AS (SELECT vec_id AS cw, qv AS cv FROM q WHERE vec_id < 8),
      |ca1 AS (
      |  SELECT q.vec_id, q.qv, cseeds.cw,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS d
      |  FROM q CROSS JOIN cseeds
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |    ORDER BY d, cseeds.cw) = 1),
      |ccb AS (
      |  SELECT cw, p.p AS p,
      |    CAST(floor(CAST(SUM(qv[p.p]) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
      |      AS cwv
      |  FROM ca1, generate_series(1, 64) p(p)
      |  GROUP BY cw, p),
      |ccbv AS (SELECT cw, list(cwv ORDER BY p) AS cv FROM ccb GROUP BY cw),
      |cells AS (
      |  SELECT q.vec_id, ccbv.cw AS cell,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS d
      |  FROM q CROSS JOIN ccbv
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |    ORDER BY d, ccbv.cw) = 1),
      |counts AS (SELECT cell, COUNT(*) AS n_vecs FROM cells GROUP BY cell),
      |total AS (SELECT COUNT(*) AS n_total FROM embeddings)
      |SELECT CAST(ccbv.cw AS INT) AS cell,
      |  CAST(coalesce(n_vecs, 0) AS BIGINT) AS n_vecs,
      |  CAST(coalesce(n_vecs, 0) * 1000 // n_total AS BIGINT) AS permille,
      |  coalesce(n_vecs, 0) = 0 AS is_empty
      |FROM ccbv LEFT JOIN counts ON ccbv.cw = counts.cell
      |CROSS JOIN total""".stripMargin

  /** PQ compression–recall frontier — the tuning artifact that picks a
    * vector store's config (x98's LSH S-curve on the quantization
    * plane): three PQ configs (coarse 8×8-dim×16 → 4 bytes/vec, middle
    * 16×4-dim×64 → 12 bytes, fine 32×2-dim×64 → 24 bytes) each run the
    * full x108 pipeline and score their ADC top-5 against the EXACT
    * integer-L2 top-5; the report row per config is (bytes/vec,
    * hits, recall). On this corpus the frontier is the scaladoc'd
    * sweep made a gated artifact: recall climbs 0.14 → ~0.5 → 0.68 as
    * bytes rise — the dial a training pipeline reads before building
    * its index. All three pipelines and the exact ranking replay in
    * DuckDB (the oracle generates one CTE chain per config).
    *
    * Scale shape: the exact ranking is |queries| × N (ground-truth
    * construction, query-bounded); each config is x108's broadcast
    * shapes; report rows are 3. */
  def x111_pq_frontier(spark: SparkSession, dir: String): DataFrame = {
    // every leg reads a staged artifact: the exact ground truth is
    // the shared [[stagedExactTop5]] artifact (the same |Q|×N ranking
    // the x108 recall audit scores against), and each config's ADC
    // top-5 stages through [[stagedAdcTopK]] — the fine config IS
    // x108's artifact, so in a sweep where x108 already ran this
    // frontier pays two small pipelines and three scans, not three
    // pipelines plus a cross ranking
    val exact = stagedExactTop5(spark, dir)
    val nExact = exact.count()
    val rows = pqFrontierConfigs.map { case (tag, m, sd, ncw, bytes) =>
      val top = stagedAdcTopK(spark, dir, tag, m, sd, ncw)
        .filter(col("rank") <= 5) // m32 stages top-100 for x121's pool
        .select(col("query_id"), col("neighbor_id"))
      val hits = top.join(exact, Seq("query_id", "neighbor_id")).count()
      (tag, bytes, hits, hits.toDouble / nExact.toDouble)
    }
    import spark.implicits._
    rows.toDF("cfg", "bytes_per_vec", "n_hits", "recall")
      .select(col("cfg"), col("bytes_per_vec").cast(IntegerType),
        col("n_hits").cast(LongType), col("recall"))
      .toDF("cfg", "bytes_per_vec", "n_hits", "recall")
  }

  /** (tag, m, subDim, nCw, bytes/vec with ceil(log2 nCw) bits/code). */
  private val pqFrontierConfigs = Seq(
    ("m8_d8_k16", 8, 8, 16, 4),
    ("m16_d4_k64", 16, 4, 64, 12),
    ("m32_d2_k64", 32, 2, 64, 24))

  /** One x108-shaped CTE chain per config, suffixed; shared q/exact. */
  private def pqCfgOracleCtes(tag: String, m: Int, sd: Int, ncw: Int): String =
    s"""sub_$tag AS (
       |  SELECT vec_id, s.s AS s, qv[s.s*$sd+1 : s.s*$sd+$sd] AS sv
       |  FROM q, generate_series(0, ${m - 1}) s(s)),
       |seeds_$tag AS (
       |  SELECT vec_id AS cw, s, sv AS cv FROM sub_$tag WHERE vec_id < $ncw),
       |a1_$tag AS (
       |  SELECT sub_$tag.vec_id, sub_$tag.s, sub_$tag.sv, seeds_$tag.cw,
       |    list_sum(list_transform(generate_series(1, $sd),
       |      i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) AS d
       |  FROM sub_$tag JOIN seeds_$tag ON sub_$tag.s = seeds_$tag.s
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY sub_$tag.vec_id, sub_$tag.s
       |    ORDER BY d, seeds_$tag.cw) = 1),
       |cb_$tag AS (
       |  SELECT cw, s, p.p AS p,
       |    CAST(floor(CAST(SUM(sv[p.p]) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
       |      AS cwv
       |  FROM a1_$tag, generate_series(1, $sd) p(p)
       |  GROUP BY cw, s, p),
       |cbv_$tag AS (
       |  SELECT cw, s, list(cwv ORDER BY p) AS cv FROM cb_$tag GROUP BY cw, s),
       |dists_$tag AS (
       |  SELECT sub_$tag.vec_id, sub_$tag.s, cbv_$tag.cw,
       |    list_sum(list_transform(generate_series(1, $sd),
       |      i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) AS d
       |  FROM sub_$tag JOIN cbv_$tag ON sub_$tag.s = cbv_$tag.s),
       |codes_$tag AS (
       |  SELECT vec_id, s, cw AS code FROM dists_$tag
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cw) = 1),
       |lut_$tag AS (
       |  SELECT sub_$tag.vec_id AS query_id, sub_$tag.s, cbv_$tag.cw,
       |    list_sum(list_transform(generate_series(1, $sd),
       |      i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) AS qd
       |  FROM sub_$tag JOIN cbv_$tag ON sub_$tag.s = cbv_$tag.s
       |  WHERE sub_$tag.vec_id < 10),
       |adc_$tag AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id, SUM(l.qd) AS adc_dist
       |  FROM codes_$tag c JOIN lut_$tag l ON c.s = l.s AND c.code = l.cw
       |  WHERE l.query_id <> c.vec_id
       |  GROUP BY 1, 2),
       |top_$tag AS (
       |  SELECT query_id, neighbor_id FROM adc_$tag
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist, neighbor_id) <= 5)""".stripMargin

  lazy val x111Oracle: String = {
    val cfgs = pqFrontierConfigs
    val rows = cfgs.map { case (tag, _, _, _, bytes) =>
      s"""SELECT '$tag' AS cfg, CAST($bytes AS INT) AS bytes_per_vec,
         |  CAST(h AS BIGINT) AS n_hits,
         |  CAST(h AS DOUBLE) / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE)
         |    AS recall
         |FROM hits_$tag""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |exact AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    list_sum(list_transform(generate_series(1, 64),
       |      i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))) AS d
       |  FROM q a JOIN q b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |    ORDER BY d, b.vec_id) <= 5),
       |""".stripMargin +
      cfgs.map { case (tag, m, sd, ncw, _) =>
        pqCfgOracleCtes(tag, m, sd, ncw) + s""",
           |hits_$tag AS (
           |  SELECT COUNT(*) AS h FROM top_$tag t
           |  JOIN exact e ON t.query_id = e.query_id
           |    AND t.neighbor_id = e.neighbor_id)""".stripMargin
      }.mkString(",\n") + "\n" + rows
  }

  /** Hybrid retrieval with reciprocal-rank fusion — the production RAG
    * stack in one gated operator: SPARSE doc-to-doc BM25 (x107's
    * machinery, query = a document's own discriminative terms,
    * candidates band-bounded at ≤ 32 docs/term) fused with DENSE
    * PQ/ADC ANN (x108) by RRF (`1/(60+rank)`, Cormack et al. 2009).
    * Every parity lesson of this plane is load-bearing here: the
    * per-term BM25 weight is the bit-identical IEEE chain from x107
    * QUANTIZED to the 1e-6 integer grid with floor(x+0.5) (the x37
    * convention) so the CROSS-TERM sum is order-blind exact integers —
    * never a float sum across rows, never a decimal cast of a
    * non-summed double (the x107 finding); the RRF score is exactly
    * two IEEE terms in pinned order. Ranks tie-break on doc_id
    * throughout.
    *
    * Scale shape: sparse candidates are |query terms| × ≤ 32 rows by
    * the df-band contract; the dense side is x108's broadcast shapes;
    * the fusion is a top-10 × top-10 full-outer join per query. */
  /** x113's dense leg: the staged m32 ADC artifact — the SAME table
    * x108/x111/x120/x121 consume; the ADC ranking is deterministic
    * (adc_dist, neighbor_id), so the staged top-100's rank<=10 prefix
    * IS adcTopK(k=10), without recomputing the PQ pipeline per run.
    * Package-visible so PlanShapeSpec can pin the staged read (x113
    * itself returns a localCheckpoint, which hides the scan). */
  private[graft] def x113dense(spark: SparkSession, dir: String): DataFrame =
    stagedAdcTopK(spark, dir, "m32_d2_k64", 32, 2, 64)
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("r_dense"))

  def x113_hybrid_retrieval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sparse = bm25SparseTopK(spark, dir, 10)
    val dense = x113dense(spark, dir)
    val fused = sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
      // EXACTLY two IEEE terms in pinned order — deterministic per row
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("r_sparse").cast(DoubleType)),
          lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("r_dense").cast(DoubleType)),
            lit(0.0)))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank").cast(IntegerType).as("rank"),
        col("doc_id"),
        col("r_sparse").cast(IntegerType).as("r_sparse"),
        col("r_dense").cast(IntegerType).as("r_dense"),
        col("rrf"))
    fused.localCheckpoint(true)
  }

  lazy val x113Oracle: String =
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |${pqCfgOracleCtes("hx", 32, 2, 64)},
       |dense AS (
       |  SELECT query_id, neighbor_id AS doc_id,
       |    CAST(rnk AS INT) AS r_dense
       |  FROM (
       |    SELECT query_id, neighbor_id, adc_dist,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY adc_dist, neighbor_id) AS rnk
       |    FROM adc_hx)
       |  WHERE rnk <= 10),
       |ws AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents),
       |t AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
       |    i -> w[i] || ' ' || w[i + 1])) AS term
       |  FROM ws),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
       |dfx AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
       |  HAVING COUNT(*) BETWEEN 2 AND 32),
       |lens AS (SELECT doc_id, 1 + SUM(tf) AS len FROM tf GROUP BY doc_id),
       |stats AS (
       |  SELECT COUNT(*) AS nd,
       |    CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
       |  FROM lens),
       |qterms AS (
       |  SELECT tf.doc_id AS query_id, tf.term, dfx.df
       |  FROM tf JOIN dfx ON tf.term = dfx.term
       |  WHERE tf.doc_id < 10),
       |sparse0 AS (
       |  SELECT qterms.query_id, tf.doc_id,
       |    SUM(CAST(floor(
       |      ((((CAST(nd AS DOUBLE) - CAST(qterms.df AS DOUBLE)) + 0.5)
       |          / (CAST(qterms.df AS DOUBLE) + 0.5))
       |        * ((CAST(tf AS DOUBLE) * 2.2)
       |          / (CAST(tf AS DOUBLE) + 1.2
       |            * (0.25 + 0.75 * (CAST(len AS DOUBLE) / avgdl)))))
       |      * 1000000.0 + 0.5) AS BIGINT)) AS s_sparse
       |  FROM tf
       |  JOIN qterms ON tf.term = qterms.term
       |  JOIN lens ON tf.doc_id = lens.doc_id
       |  CROSS JOIN stats
       |  WHERE tf.doc_id <> qterms.query_id
       |  GROUP BY 1, 2),
       |sparse AS (
       |  SELECT query_id, doc_id, CAST(rs AS INT) AS r_sparse FROM (
       |    SELECT query_id, doc_id, s_sparse,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY s_sparse DESC, doc_id) AS rs
       |    FROM sparse0)
       |  WHERE rs <= 10),
       |fused AS (
       |  SELECT coalesce(sparse.query_id, dense.query_id) AS query_id,
       |    coalesce(sparse.doc_id, dense.doc_id) AS doc_id,
       |    sparse.r_sparse, dense.r_dense,
       |    coalesce(1.0 / (60.0 + CAST(sparse.r_sparse AS DOUBLE)), 0.0)
       |      + coalesce(1.0 / (60.0 + CAST(dense.r_dense AS DOUBLE)), 0.0)
       |      AS rrf
       |  FROM sparse FULL OUTER JOIN dense
       |    ON sparse.query_id = dense.query_id
       |    AND sparse.doc_id = dense.doc_id)
       |SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
       |  r_sparse, r_dense, rrf
       |FROM (
       |  SELECT query_id, doc_id, r_sparse, r_dense, rrf,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rrf DESC, doc_id) AS rank
       |  FROM fused)
       |WHERE rank <= 10""".stripMargin

  /** DSIR-style importance resampling — domain-targeted data selection
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score every raw-pool document by how
    * target-like its token distribution is, then take the top of the
    * pool as the resampled training slice. Target here = the curated
    * English sample (`lang = 'en' AND source IN ('src0','src1')`);
    * the pool = everything else.
    *
    * Cross-engine determinism (the x37/x107 convention): the
    * per-feature importance weight is a LOG-FREE odds ratio on an
    * integer grid — `w_f = (T_f + 1) * 1e6 div (R_f + 1)` with
    * `T_f`/`R_f` the add-one-smoothed target/corpus token counts —
    * so every weight, document score, and per-token score is exact
    * BIGINT arithmetic (`div` here, `//` in the DuckDB oracle; both
    * truncate identically on non-negatives). `w_f` is monotone in the
    * DSIR likelihood ratio per feature, and the per-token score is the
    * resampling key. Shape: ONE corpus tokenize feeds both the
    * vocab-sized weight table (a single conditional-sum aggregate —
    * no second corpus pass) and the term-keyed score join; source/
    * lang/target flags ride the doc-keyed groupBy as functionally
    * dependent keys (no meta join at corpus scale); top-40 lands via
    * TakeOrdered, never a global sort. */
  def x114_importance_resample(spark: SparkSession, dir: String): DataFrame = {
    val isTgt = col("lang") === "en" &&
      col("source").isin("src0", "src1")
    val tf = documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), isTgt.as("is_tgt"),
        explode(TextOps.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("source"), col("lang"), col("is_tgt"),
        col("term"))
      .agg(count(lit(1)).as("c"))
      .cache()
    val weights = tf.groupBy(col("term"))
      .agg(sum(when(col("is_tgt"), col("c")).otherwise(0L)).as("t_f"),
        sum(col("c")).as("r_f"))
      .select(col("term"),
        expr("(t_f + 1) * 1000000 div (r_f + 1)").as("w"))
    val res = tf.filter(!col("is_tgt"))
      .join(weights, Seq("term"))
      .groupBy(col("doc_id"), col("source"), col("lang"))
      .agg(sum(col("c")).as("n_tok"),
        sum(col("c") * col("w")).as("imp_score"))
      .withColumn("imp_per_tok", expr("imp_score div n_tok"))
      .orderBy(col("imp_per_tok").desc, col("doc_id"))
      .limit(40)
      .localCheckpoint(true)
    tf.unpersist()
    res
  }

  val x114Oracle: String =
    """WITH terms AS (
      |  SELECT doc_id, source, lang,
      |    (lang = 'en' AND source IN ('src0','src1')) AS is_tgt,
      |    unnest(string_split_regex(text, '\s+')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, source, lang, is_tgt, term, COUNT(*) AS c
      |  FROM terms WHERE term <> '' GROUP BY 1, 2, 3, 4, 5),
      |w AS (
      |  SELECT term,
      |    (1 + SUM(CASE WHEN is_tgt THEN c ELSE 0 END)) * 1000000
      |      // (1 + SUM(c)) AS w
      |  FROM tf GROUP BY term)
      |SELECT doc_id, source, lang, n_tok, imp_score,
      |  CAST(imp_score // n_tok AS BIGINT) AS imp_per_tok
      |FROM (
      |  SELECT tf.doc_id, tf.source, tf.lang,
      |    CAST(SUM(tf.c) AS BIGINT) AS n_tok,
      |    CAST(SUM(tf.c * w.w) AS BIGINT) AS imp_score
      |  FROM tf JOIN w USING (term)
      |  WHERE NOT tf.is_tgt
      |  GROUP BY 1, 2, 3)
      |ORDER BY imp_per_tok DESC, doc_id
      |LIMIT 40""".stripMargin

  /** Topic-balanced corpus sampling — cluster-quota curation over the
    * embedding plane (the cluster-balanced pruning step of
    * SemDeDup-style curation: sample EVENLY across semantic clusters
    * instead of letting head topics dominate the training mix): every
    * document's embedding assigns to one of 8 coarse cells via the
    * x110 replayable quantizer (seeded one-round Lloyd, broadcast
    * centroids, exact integer L2), then each topic contributes a
    * deterministic quota of k=12 documents — the md5-draw bottom-k,
    * so the sample is reproducible and oracle-replayable.
    *
    * Scale shape: per-topic selection NEVER windows the corpus — the
    * x58 sketch-prune runs first (one partial-combining (topic, 2-hex
    * bin) count → per-topic cutoff bin holding the quota from the
    * bottom, broadcast back), and the rank window sees only the
    * cutoff survivors (~quota per topic at any corpus size). The
    * prune is exact by construction, so the output equals the naive
    * per-topic bottom-k and the oracle replays the naive form. */
  def x115_topic_balanced_sample(spark: SparkSession, dir: String): DataFrame = {
    import graft.sim.PqIndex
    import org.apache.spark.sql.expressions.Window
    val k = 12
    val emb = embeddings(spark, dir)
    val subFull = PqIndex.subspaces(emb, "vec_id", "embedding", 1, 64)
    val coarseCb = PqIndex.trainCodebooks(subFull, "vec_id", nCw = 8, iters = 1)
    val cells = PqIndex.encode(subFull, coarseCb, "vec_id")
      .select(col("vec_id").as("doc_id"),
        col("code").cast(IntegerType).as("topic"))
    val drawn = documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(cells, Seq("doc_id"))
      .withColumn("draw",
        md5(concat(lit("topic|"), col("doc_id").cast(StringType))))
      .withColumn("bin", substring(col("draw"), 1, 2))
    val cutoffs = drawn.groupBy(col("topic"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(Window.partitionBy(col("topic"))
        .orderBy(col("bin").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // a topic with < k docs never reaches cum >= k: keep all its bins
      // (prune nothing for that topic, exactness over savings)
      .groupBy(col("topic"))
      .agg(coalesce(min(when(col("cum") >= k, col("bin"))),
        max(col("bin"))).as("cutoff"))
    drawn.join(broadcast(cutoffs), Seq("topic"))
      .filter(col("bin") <= col("cutoff"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("topic"))
        .orderBy(col("draw").asc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("topic"), col("rk").cast(IntegerType).as("rk"),
        col("doc_id"), col("source"), col("n_chars"))
  }

  val x115Oracle: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |cseeds AS (SELECT vec_id AS cw, qv AS cv FROM q WHERE vec_id < 8),
      |ca1 AS (
      |  SELECT q.vec_id, q.qv, cseeds.cw,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS d
      |  FROM q CROSS JOIN cseeds
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |    ORDER BY d, cseeds.cw) = 1),
      |ccb AS (
      |  SELECT cw, p.p AS p,
      |    CAST(floor(CAST(SUM(qv[p.p]) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
      |      AS cwv
      |  FROM ca1, generate_series(1, 64) p(p)
      |  GROUP BY cw, p),
      |ccbv AS (SELECT cw, list(cwv ORDER BY p) AS cv FROM ccb GROUP BY cw),
      |cells AS (
      |  SELECT q.vec_id, ccbv.cw AS cell,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS d
      |  FROM q CROSS JOIN ccbv
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |    ORDER BY d, ccbv.cw) = 1),
      |drawn AS (
      |  SELECT CAST(cells.cell AS INT) AS topic, d.doc_id, d.source,
      |    d.n_chars, md5('topic|' || CAST(d.doc_id AS VARCHAR)) AS draw
      |  FROM documents d JOIN cells ON d.doc_id = cells.vec_id),
      |r AS (
      |  SELECT topic, CAST(row_number() OVER (PARTITION BY topic
      |    ORDER BY draw, doc_id) AS INT) AS rk, doc_id, source, n_chars
      |  FROM drawn)
      |SELECT topic, rk, doc_id, source, n_chars FROM r WHERE rk <= 12""".stripMargin

  /** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining") —
    * the mixture-tuning step that upweights domains whose text a proxy
    * model finds HARD: here the proxy difficulty is the corpus unigram
    * LM's mean token rarity (x35's surprisal surrogate on the integer
    * grid: `r_t = n_corpus·1e6 div cnt_t`, monotone in −log p and
    * libm-free), and the update is the LINEARIZED multiplicative step
    * `w_s ∝ ref_s · (domain mean rarity / corpus mean rarity)` — the
    * exp(η·excess) of the paper replaced by its first-order ratio form
    * so every weight is exact BIGINT arithmetic on both engines
    * (documented deviation; ratios clamp at 10× as the step-size cap).
    * Every division operates on non-negatives — Spark `div` truncates
    * toward zero, DuckDB `//` floors, and they agree only there.
    *
    * Shape: ONE corpus tokenize → per-(source, term) partial-combining
    * counts; the LM and every total derive from THAT frame (no second
    * corpus pass); the rarity join is vocab-keyed; the final mixture
    * math runs on a sources-sized frame. */
  def x116_doremi_reweight(spark: SparkSession, dir: String): DataFrame = {
    val tf = documents(spark, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      .cache()
    val lm = tf.groupBy(col("term")).agg(sum(col("c")).as("cnt"))
    val nCorpus = lm.agg(sum(col("cnt")).as("n_corpus"))
    val rar = lm.crossJoin(broadcast(nCorpus))
      .select(col("term"),
        expr("n_corpus * 1000000 div cnt").as("r"))
    val perSrc = tf.join(rar, Seq("term"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tok"), sum(col("c") * col("r")).as("num"))
    val totals = perSrc.agg(sum(col("n_tok")).as("tot_n"),
      sum(col("num")).as("tot_num"))
    val scored = perSrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_tok"),
        expr("n_tok * 1000000 div tot_n").as("ref_ppm"),
        expr("num div n_tok").as("mean_rarity"),
        expr("least(num div n_tok * 1000000 div (tot_num div tot_n), " +
          "10000000)").as("ratio_ppm"))
      .withColumn("raw", expr("ref_ppm * ratio_ppm div 1000"))
    val res = scored.crossJoin(broadcast(
        scored.agg(sum(col("raw")).as("tot_raw"))))
      .select(col("source"), col("n_tok"), col("ref_ppm"),
        col("mean_rarity"), col("ratio_ppm"),
        expr("raw * 1000000 div tot_raw").as("new_ppm"))
      .localCheckpoint(true)
    tf.unpersist()
    res
  }

  val x116Oracle: String =
    """WITH t AS (
      |  SELECT source, unnest(string_split_regex(text, '\s+')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT source, term, COUNT(*) AS c FROM t WHERE term <> ''
      |  GROUP BY 1, 2),
      |lm AS (SELECT term, CAST(SUM(c) AS BIGINT) AS cnt FROM tf GROUP BY 1),
      |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_corpus FROM lm),
      |rar AS (
      |  SELECT term, CAST(n_corpus * 1000000 // cnt AS BIGINT) AS r
      |  FROM lm CROSS JOIN n),
      |per_src AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tok,
      |    CAST(SUM(c * r) AS BIGINT) AS num
      |  FROM tf JOIN rar USING (term) GROUP BY source),
      |tot AS (
      |  SELECT CAST(SUM(n_tok) AS BIGINT) AS tot_n,
      |    CAST(SUM(num) AS BIGINT) AS tot_num
      |  FROM per_src),
      |scored AS (
      |  SELECT source, n_tok,
      |    CAST(n_tok * 1000000 // tot_n AS BIGINT) AS ref_ppm,
      |    CAST(num // n_tok AS BIGINT) AS mean_rarity,
      |    CAST(least(num // n_tok * 1000000 // (tot_num // tot_n),
      |      10000000) AS BIGINT) AS ratio_ppm,
      |    CAST(n_tok * 1000000 // tot_n * (least(num // n_tok * 1000000
      |      // (tot_num // tot_n), 10000000)) // 1000 AS BIGINT) AS raw
      |  FROM per_src CROSS JOIN tot)
      |SELECT source, n_tok, ref_ppm, mean_rarity, ratio_ppm,
      |  CAST(raw * 1000000 // (SELECT SUM(raw) FROM scored) AS BIGINT)
      |    AS new_ppm
      |FROM scored""".stripMargin

  /** Two-stage ANN serving: ADC candidates → EXACT re-rank — the
    * production refine step (FAISS's `refine` / IndexRefineFlat): the
    * compressed index proposes a top-100 candidate pool (the staged
    * m32 ADC artifact — the SAME table x108/x111/x120 read, which is
    * why the staging depth is 100), the exact integer-L2 metric
    * re-scores ONLY the pool, and the re-ranked top-5 recovers the
    * recall quantization lost (x108's ADC-only top-5 sits at ~0.68;
    * the pool almost always contains the true neighbors).
    *
    * Scale shape: the candidate frame (|Q|×100 ids) BROADCASTS into
    * one corpus scan to fetch neighbor vectors — no shuffle of the
    * table, and exact distances compute on |Q|×100 rows, never |Q|×N.
    * That asymmetry is the whole point of two-stage serving: the
    * expensive metric touches a constant-size pool per query. */
  def x121_ann_rerank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = stagedAdcTopK(spark, dir, "m32_d2_k64", 32, 2, 64)
      .select(col("query_id"), col("neighbor_id"))
    val qv = embeddings(spark, dir).select(col("vec_id"),
      graft.sim.SimilarityOps.quantize(col("embedding")).as("qv"))
    broadcast(cand)
      .join(broadcast(qv.toDF("query_id", "qa")
        .filter(col("query_id") < 10)), Seq("query_id"))
      .join(qv.toDF("neighbor_id", "qb"), Seq("neighbor_id"))
      .withColumn("exact_d", aggregate(zip_with(col("qa"), col("qb"),
        (x, y) => (x - y) * (x - y)), lit(0L), (a, v) => a + v))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("exact_d"), col("neighbor_id"))))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank").cast(IntegerType).as("rank"),
        col("neighbor_id"), col("exact_d"))
  }

  lazy val x121Oracle: String =
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |${pqCfgOracleCtes("rr", 32, 2, 64)},
       |cand AS (
       |  SELECT query_id, neighbor_id FROM adc_rr
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist, neighbor_id) <= 100),
       |rer AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST(list_sum(list_transform(generate_series(1, 64),
       |      i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))) AS BIGINT)
       |      AS exact_d
       |  FROM cand c
       |  JOIN q a ON a.vec_id = c.query_id
       |  JOIN q b ON b.vec_id = c.neighbor_id)
       |SELECT query_id, CAST(rnk AS INT) AS rank, neighbor_id, exact_d
       |FROM (
       |  SELECT query_id, neighbor_id, exact_d,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY exact_d, neighbor_id) AS rnk
       |  FROM rer)
       |WHERE rnk <= 5""".stripMargin

  /** Margin-based parallel-pair mining (Artetxe & Schwenk 2019's
    * margin criterion, distance-ratio form) — the bitext-mining step
    * that builds MT / cross-lingual training corpora: a candidate pair
    * (src, tgt) is accepted not on raw similarity but on its MARGIN
    * over each endpoint's neighborhood, which filters hub vectors
    * (close to everything) that any absolute threshold admits.
    *
    * The embedding pool splits by label parity into a "source" and
    * "target" language plane; the mined batch is the source vectors
    * with vec_id < 32 — the delta-alignment shape (align a new batch
    * against the standing pool): the batch side BROADCASTS, so the
    * distance frame is linear in the pool with zero pool shuffles
    * (x09's accepted linear-scan class; the full-corpus mining path
    * composes with IVF cells exactly like x109). Distances are exact
    * integer L2 on the 1e4 grid; the margin is
    * `(ctx_src + ctx_tgt) * 125000 div (d + 1)` — the mean of the 8
    * context distances (top-4 each direction) against the pair
    * distance on a ppm grid, exact BIGINT on both engines (all
    * operands non-negative, where Spark's div and DuckDB's // agree).
    * Accepted = margin > 1.05e6 (ratio 1.05 — the margin criterion's
    * typical operating point; ratio 1.0 is vacuous for a top-1 pair,
    * whose own distance always sits at or below its context mean).
    * One mined row per source vector (top-1 target by margin, ties by
    * target id), so output is batch-bounded. */
  def x118_bitext_margin_mining(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qv = embeddings(spark, dir).select(col("vec_id"), col("label"),
      SimilarityOps.quantize(col("embedding")).as("qv"))
    val src = qv.filter(col("label") % 2 === 0 && col("vec_id") < 32)
      .select(col("vec_id").as("src_id"), col("qv").as("qa"))
    val tgt = qv.filter(col("label") % 2 === 1)
      .select(col("vec_id").as("tgt_id"), col("qv").as("qb"))
    // slim (src, tgt, d) frame feeds three consumers (fwd top-k, rev
    // top-k, margin scoring) — cache it, free it before return
    val dists = tgt.crossJoin(broadcast(src))
      .withColumn("d", aggregate(zip_with(col("qa"), col("qb"),
        (x, y) => (x - y) * (x - y)), lit(0L), (a, v) => a + v))
      .select(col("src_id"), col("tgt_id"), col("d"))
      .cache()
    val fwd = dists.withColumn("rf", row_number().over(
        Window.partitionBy(col("src_id")).orderBy(col("d"), col("tgt_id"))))
      .filter(col("rf") <= 4)
    val ctxSrc = fwd.groupBy(col("src_id")).agg(sum(col("d")).as("ctx_src"))
    val ctxTgt = dists.withColumn("rr", row_number().over(
        Window.partitionBy(col("tgt_id")).orderBy(col("d"), col("src_id"))))
      .filter(col("rr") <= 4)
      .groupBy(col("tgt_id")).agg(sum(col("d")).as("ctx_tgt"))
    val mined = fwd.join(ctxSrc, Seq("src_id")).join(ctxTgt, Seq("tgt_id"))
      .withColumn("margin_ppm",
        expr("((ctx_src + ctx_tgt) * 125000) DIV (d + 1)"))
      .withColumn("rm", row_number().over(
        Window.partitionBy(col("src_id"))
          .orderBy(col("margin_ppm").desc, col("tgt_id"))))
      .filter(col("rm") === 1)
      .select(col("src_id"), col("tgt_id"), col("d").as("dist"),
        col("margin_ppm"), (col("margin_ppm") > 1050000L).as("accepted"))
      .cache()
    mined.count() // materialize, then free the fat internal frame
    dists.unpersist()
    mined
  }

  val x118Oracle: String =
    """WITH qe AS (
      |  SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |src AS (
      |  SELECT vec_id AS src_id, qv AS qa FROM qe
      |  WHERE label % 2 = 0 AND vec_id < 32),
      |tgt AS (SELECT vec_id AS tgt_id, qv AS qb FROM qe WHERE label % 2 = 1),
      |dists AS (
      |  SELECT src_id, tgt_id,
      |    CAST(list_sum(list_transform(generate_series(1, 64),
      |      i -> (qa[i] - qb[i]) * (qa[i] - qb[i]))) AS BIGINT) AS d
      |  FROM src CROSS JOIN tgt),
      |fwd AS (
      |  SELECT src_id, tgt_id, d,
      |    ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY d, tgt_id) AS rf
      |  FROM dists),
      |ctxa AS (
      |  SELECT src_id, CAST(SUM(d) AS BIGINT) AS ctx_src FROM fwd
      |  WHERE rf <= 4 GROUP BY src_id),
      |rev AS (
      |  SELECT src_id, tgt_id, d,
      |    ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY d, src_id) AS rr
      |  FROM dists),
      |ctxb AS (
      |  SELECT tgt_id, CAST(SUM(d) AS BIGINT) AS ctx_tgt FROM rev
      |  WHERE rr <= 4 GROUP BY tgt_id),
      |scored AS (
      |  SELECT f.src_id, f.tgt_id, f.d,
      |    CAST(((ctx_src + ctx_tgt) * 125000) // (f.d + 1) AS BIGINT)
      |      AS margin_ppm
      |  FROM fwd f
      |  JOIN ctxa ON f.src_id = ctxa.src_id
      |  JOIN ctxb ON f.tgt_id = ctxb.tgt_id
      |  WHERE f.rf <= 4)
      |SELECT src_id, tgt_id, CAST(d AS BIGINT) AS dist, margin_ppm,
      |  margin_ppm > 1050000 AS accepted
      |FROM (
      |  SELECT src_id, tgt_id, d, margin_ppm,
      |    ROW_NUMBER() OVER (PARTITION BY src_id
      |      ORDER BY margin_ppm DESC, tgt_id) AS rm
      |  FROM scored)
      |WHERE rm = 1""".stripMargin

  /** k-anonymity audit over quasi-identifier tuples — the privacy-risk
    * report a release pipeline files before shipping a corpus: rows
    * whose (source, lang, size-band) combination is shared by fewer
    * than k = 5 documents are re-identification risks even after
    * direct-PII scrubbing (x27/x87 remove identifiers; this measures
    * what the REMAINING attributes still leak, Sweeney 2002's model).
    * One partial-combining aggregate over the corpus; the report is
    * QI-cardinality-sized (sources × langs × 4KB-bands), never
    * row-sized — the same shape at 100 TB. */
  def x119_k_anonymity_audit(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy(col("source"), col("lang"),
        expr("n_chars DIV 256").as("size_band"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("at_risk", col("n_docs") < 5)

  val x119Oracle: String =
    """SELECT source, lang, CAST(n_chars // 256 AS BIGINT) AS size_band,
      |  COUNT(*) AS n_docs, COUNT(*) < 5 AS at_risk
      |FROM documents
      |GROUP BY 1, 2, 3""".stripMargin

  /** Retrieval ablation report — the recall@5 table a RAG stack reads
    * before picking its retriever: the DENSE leg (x108's staged PQ/ADC
    * top-5), the SPARSE leg (x113's BM25 shape cut at 5), and their
    * RRF fusion, each scored against the one staged exact-L2 ground
    * truth ([[stagedExactTop5]] — the same table x111 and the x108
    * audit score against; sparse recall vs the EMBEDDING ground truth
    * measures how much of the semantic answer lexical matching
    * recovers, the ablation's whole point). Three report rows; the
    * dense/exact legs are staged scans, the sparse leg is df-banded
    * (candidates ≤ 32/term) — the report costs one BM25 pass at any
    * corpus size. */
  def x120_retrieval_ablation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gt = stagedExactTop5(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val nGt = gt.count()
    val dense = stagedAdcTopK(spark, dir, "m32_d2_k64", 32, 2, 64)
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast(IntegerType).as("r_dense"))
    val sparse = bm25SparseTopK(spark, dir, 5)
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        col("r_sparse").cast(IntegerType).as("r_sparse"))
    val fused = sparse.join(dense, Seq("query_id", "neighbor_id"), "full_outer")
      // the x113 convention: EXACTLY two IEEE terms in pinned order
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("r_sparse").cast(DoubleType)),
          lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("r_dense").cast(DoubleType)),
            lit(0.0)))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("neighbor_id"))))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("neighbor_id"))
    def hits(leg: DataFrame): Long =
      leg.select(col("query_id"), col("neighbor_id"))
        .join(gt, Seq("query_id", "neighbor_id")).count()
    val rows = Seq(("dense", hits(dense)), ("sparse", hits(sparse)),
      ("hybrid", hits(fused)))
    import spark.implicits._
    rows.toDF("leg", "n_hits")
      .select(col("leg"), col("n_hits").cast(LongType).as("n_hits"),
        (col("n_hits").cast(DoubleType) / lit(nGt.toDouble)).as("recall"))
  }

  lazy val x120Oracle: String =
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |exact AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    list_sum(list_transform(generate_series(1, 64),
       |      i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))) AS d
       |  FROM q a JOIN q b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |    ORDER BY d, b.vec_id) <= 5),
       |${pqCfgOracleCtes("ab", 32, 2, 64)},
       |dense AS (
       |  SELECT query_id, neighbor_id, CAST(rnk AS INT) AS r_dense FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY adc_dist, neighbor_id) AS rnk
       |    FROM adc_ab)
       |  WHERE rnk <= 5),
       |ws AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents),
       |t AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
       |    i -> w[i] || ' ' || w[i + 1])) AS term
       |  FROM ws),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
       |dfx AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
       |  HAVING COUNT(*) BETWEEN 2 AND 32),
       |lens AS (SELECT doc_id, 1 + SUM(tf) AS len FROM tf GROUP BY doc_id),
       |stats AS (
       |  SELECT COUNT(*) AS nd,
       |    CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
       |  FROM lens),
       |qterms AS (
       |  SELECT tf.doc_id AS query_id, tf.term, dfx.df
       |  FROM tf JOIN dfx ON tf.term = dfx.term
       |  WHERE tf.doc_id < 10),
       |sparse0 AS (
       |  SELECT qterms.query_id, tf.doc_id,
       |    SUM(CAST(floor(
       |      ((((CAST(nd AS DOUBLE) - CAST(qterms.df AS DOUBLE)) + 0.5)
       |          / (CAST(qterms.df AS DOUBLE) + 0.5))
       |        * ((CAST(tf AS DOUBLE) * 2.2)
       |          / (CAST(tf AS DOUBLE) + 1.2
       |            * (0.25 + 0.75 * (CAST(len AS DOUBLE) / avgdl)))))
       |      * 1000000.0 + 0.5) AS BIGINT)) AS s_sparse
       |  FROM tf
       |  JOIN qterms ON tf.term = qterms.term
       |  JOIN lens ON tf.doc_id = lens.doc_id
       |  CROSS JOIN stats
       |  WHERE tf.doc_id <> qterms.query_id
       |  GROUP BY 1, 2),
       |sparse AS (
       |  SELECT query_id, doc_id AS neighbor_id, CAST(rs AS INT) AS r_sparse
       |  FROM (
       |    SELECT query_id, doc_id, s_sparse,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY s_sparse DESC, doc_id) AS rs
       |    FROM sparse0)
       |  WHERE rs <= 5),
       |fused AS (
       |  SELECT coalesce(sparse.query_id, dense.query_id) AS query_id,
       |    coalesce(sparse.neighbor_id, dense.neighbor_id) AS neighbor_id,
       |    coalesce(1.0 / (60.0 + CAST(sparse.r_sparse AS DOUBLE)), 0.0)
       |      + coalesce(1.0 / (60.0 + CAST(dense.r_dense AS DOUBLE)), 0.0)
       |      AS rrf
       |  FROM sparse FULL OUTER JOIN dense
       |    ON sparse.query_id = dense.query_id
       |    AND sparse.neighbor_id = dense.neighbor_id),
       |hybrid AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY rrf DESC, neighbor_id) AS rk
       |    FROM fused)
       |  WHERE rk <= 5),
       |hd AS (SELECT COUNT(*) AS h FROM dense d
       |  JOIN exact e ON d.query_id = e.query_id
       |    AND d.neighbor_id = e.neighbor_id),
       |hs AS (SELECT COUNT(*) AS h FROM sparse s
       |  JOIN exact e ON s.query_id = e.query_id
       |    AND s.neighbor_id = e.neighbor_id),
       |hh AS (SELECT COUNT(*) AS h FROM hybrid f
       |  JOIN exact e ON f.query_id = e.query_id
       |    AND f.neighbor_id = e.neighbor_id)
       |SELECT 'dense' AS leg, CAST(h AS BIGINT) AS n_hits,
       |  CAST(h AS DOUBLE) / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE)
       |    AS recall
       |FROM hd
       |UNION ALL
       |SELECT 'sparse', CAST(h AS BIGINT),
       |  CAST(h AS DOUBLE) / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE)
       |FROM hs
       |UNION ALL
       |SELECT 'hybrid', CAST(h AS BIGINT),
       |  CAST(h AS DOUBLE) / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE)
       |FROM hh""".stripMargin

  /** Matryoshka (prefix-truncation) recall audit — x77's measurement
    * discipline applied to the OTHER lossy serving representation: MRL
    * embeddings are served by truncating to a prefix of the dimensions
    * (16 or 32 of the 64), and the audit scores each truncation's
    * top-5 against the full-dim exact top-5 before any index is built
    * on the cheap prefix. Distinct from x77 (JL projection MIXES all
    * dims into random directions; truncation KEEPS a prefix — the MRL
    * contract is that training front-loaded the information, which
    * random vectors provably did not, so the expected verdict here is
    * REJECT and the audit proves it with a number per dim).
    * Scale shape: queries are a bounded slice; per-dim scoring is a
    * (query-sized × corpus) broadcast-style join on pre-sliced
    * quantized vectors — the corpus embeds once, slices are
    * projections, no extra scan per dim. */
  def x122_mrl_truncation_recall(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    val full = SimilarityOps.knnBruteForce(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"))
    val q0 = SimilarityOps.withQuantized(emb, "embedding")
      .select(col("vec_id"), col("qvec"))
    Seq(16, 32).map { d =>
      val sl = q0.select(col("vec_id"), slice(col("qvec"), 1, d).as("pv"))
        .withColumn("pn2", SimilarityOps.qnorm2(col("pv")))
      val q = sl.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("pv").as("qp"),
          col("pn2").as("qn"))
      val c = sl.select(col("vec_id").as("neighbor_id"),
        col("pv").as("cp"), col("pn2").as("cn"))
      val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine",
          SimilarityOps.qdot(col("qp"), col("cp")).cast(DoubleType) /
            (sqrt(col("qn").cast(DoubleType)) *
              sqrt(col("cn").cast(DoubleType))))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      val ttop = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__graft_hit"))
      full.join(ttop, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("__graft_hit"), lit(0))).cast(LongType)
          .as("n_overlap"))
        .withColumn("recall", col("n_overlap").cast(DoubleType) / lit(5.0))
        .withColumn("dim", lit(d))
    }.reduce(_ unionByName _)
  }

  val x122Oracle: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS n2
      |  FROM q),
      |fullsc AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
      |  FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
      |ftop AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
      |    FROM fullsc) WHERE rk <= 5),
      |dims AS (SELECT UNNEST([16, 32]) AS dim),
      |tn AS (
      |  SELECT d.dim, q.vec_id, list_slice(q.qv, 1, d.dim) AS pv,
      |    list_sum(list_transform(list_slice(q.qv, 1, d.dim), x -> x * x)) AS n2
      |  FROM q CROSS JOIN dims d),
      |trsc AS (
      |  SELECT a.dim, a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(generate_series(1, a.dim), i -> a.pv[i] * b.pv[i])) AS DOUBLE)
      |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
      |  FROM tn a JOIN tn b ON a.dim = b.dim AND a.vec_id < 10 AND a.vec_id <> b.vec_id),
      |ttop AS (
      |  SELECT dim, query_id, neighbor_id FROM (
      |    SELECT dim, query_id, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY dim, query_id ORDER BY cosine DESC, neighbor_id) AS rk
      |    FROM trsc) WHERE rk <= 5)
      |SELECT f.query_id,
      |  CAST(SUM(CASE WHEN p.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_overlap,
      |  CAST(SUM(CASE WHEN p.neighbor_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE) / 5.0 AS recall,
      |  CAST(d.dim AS INT) AS dim
      |FROM (SELECT UNNEST([16, 32]) AS dim) d
      |CROSS JOIN ftop f
      |LEFT JOIN ttop p ON p.dim = d.dim AND p.query_id = f.query_id
      |  AND p.neighbor_id = f.neighbor_id
      |GROUP BY d.dim, f.query_id""".stripMargin

  /** l-diversity audit — x119's k-anonymity companion: a
    * quasi-identifier group can have MANY members (k safe) and still
    * leak when every member shares one sensitive value (the
    * homogeneity attack). Per (source, size-band) group: member count,
    * distinct sensitive values (the language label stands in for the
    * sensitive attribute on this corpus), and the l ≥ 2 verdict.
    * Scale shape: ONE partial-combining aggregate over the corpus —
    * count + count-distinct by group key, no joins, no shuffle beyond
    * the group-by. */
  def x123_l_diversity_audit(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy(col("source"), expr("n_chars DIV 256").as("size_band"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_sensitive"))
      .withColumn("diverse", col("n_sensitive") >= 2)

  val x123Oracle: String =
    """SELECT source, CAST(n_chars // 256 AS BIGINT) AS size_band,
      |  COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_sensitive,
      |  COUNT(DISTINCT lang) >= 2 AS diverse
      |FROM documents
      |GROUP BY 1, 2""".stripMargin

  /** Integer squared L2 between two equal-length quantized arrays —
    * the one spelling shared by [[semanticCells]] and the x124
    * within-cell pair leg. */
  private def quantSqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** The SemDeDup coarse plane alone: train the `nCells` quantizer and
    * return each vector's (vec_id, cell, cd = centroid distance², qv =
    * quantized vector). Shared by [[x124_semantic_cluster_dedup]]
    * (nCells = 8, the oracle-replayable gate config) and by the scale
    * audit in SourcesAndIvfSpec, which pins the production convention
    * as a MEASURED fact — nCells ∝ √N keeps the within-cell pair
    * volume Θ(N^1.5), the sublinearity the fixed-cells gate
    * deliberately gives up for replayability (the x109 standard). */
  private[graft] def semanticCells(emb: DataFrame, nCells: Int): DataFrame = {
    import graft.sim.PqIndex
    // one full-width "subspace": the coarse plane (x109's config)
    val sub = PqIndex.subspaces(emb, "vec_id", "embedding", 1, 64)
    val cb = PqIndex.trainCodebooks(sub, "vec_id", nCw = nCells, iters = 1)
    // nearest cell + centroid distance in ONE narrow codegen'd argmin
    // pass (graft_pq_argmin) — bit-identical to the former
    // min(struct(d, cw)) over the codebook-exploding join, without the
    // nCells× row explosion or the re-grouping shuffle (r18 opt)
    val am = graft.functions.NativeFunctions.pqArgmin(col("sv"), col("entries"))
    sub.join(broadcast(PqIndex.groupedCodebook(cb)), Seq("s"))
      .select(col("vec_id"), col("sv"), am.as("am"))
      .select(col("vec_id"), element_at(col("am"), 2).as("cell"),
        element_at(col("am"), 1).as("cd"), col("sv").as("qv"))
  }

  /** Semantic cluster-scoped dedup — the SemDeDup shape (Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): cluster the embedding corpus with a
    * coarse quantizer, then prune near-duplicates WITHIN each cluster,
    * keeping the member farthest from its centroid (the paper's
    * keep-low-centroid-similarity rule — duplicates nearest the
    * centroid carry the least marginal information). This closes the
    * gap between x08 (LSH-blocked pairwise near-dup — no cluster
    * structure) and x15 (transitive components over an exact-dup
    * graph): here the BLOCKING IS the semantic clustering, exactly how
    * the method deploys over a web-scale corpus.
    *
    * Replayability: the clusters are x109's deterministic coarse
    * quantizer (8 seeded cells, one Lloyd iteration — the config the
    * DuckDB oracle replays verbatim); near-dup is integer squared L2
    * on the 1e-4 quantization grid (`d² ≤ 130 000 000`, ~the 1st
    * percentile of within-cell pair distances on this corpus —
    * measured, not guessed), so both engines compare identical
    * BIGINTs and the prune rule is pairwise dominance: v is pruned
    * iff some same-cell u within the threshold is FARTHER from the
    * centroid (ties break to the lower vec_id surviving). Pairwise,
    * not transitive — the paper's per-pair scan; transitive pruning
    * is x15's plane.
    *
    * Scale shape: quantizer trains on seeds × corpus with a BROADCAST
    * codebook (one narrow pass per Lloyd round); assignment is a
    * partial-combining min-struct aggregate, never a window; the
    * pairwise leg self-joins WITHIN cells only — at the gate's fixed
    * 8 cells that is Θ(N²/8) (oracle-replayable, like x109's probe),
    * and at production √N cells the per-cell population is √N so the
    * pair volume is Θ(N^1.5) spread across cells — the standard
    * SemDeDup deployment cost, bounded per cluster and embarrassingly
    * parallel across them. The production claim is MEASURED, not
    * prose: SourcesAndIvfSpec's x124 audit runs [[semanticCells]] at
    * √N cells over two corpus sizes and asserts the within-cell pair
    * FRACTION shrinks (pairs/N² ∝ 1/√N), r16. */
  def x124_semantic_cluster_dedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(spark, dir)
    val best = semanticCells(emb, nCells = 8)
    val a = best.select(col("cell"), col("vec_id").as("ia"),
      col("cd").as("a_cd"), col("qv").as("a_qv"))
    val b = best.select(col("cell"), col("vec_id").as("ib"),
      col("cd").as("b_cd"), col("qv").as("b_qv"))
    val near = a.join(b, Seq("cell"))
      .filter(col("ia") < col("ib"))
      .withColumn("pd2", quantSqDist(col("a_qv"), col("b_qv")))
      .filter(col("pd2") <= lit(130000000L))
    // dominance: the member closer to the centroid is pruned; a tie
    // prunes the higher vec_id (lower id survives)
    val pruned = near.select(
      when(col("a_cd") < col("b_cd"), col("ia"))
        .when(col("b_cd") < col("a_cd"), col("ib"))
        .otherwise(col("ib")).as("vec_id"))
      .distinct()
      .withColumn("pruned", lit(true))
    best.join(pruned, Seq("vec_id"), "left")
      .select(col("vec_id"),
        col("cell").cast(IntegerType).as("cell"),
        col("cd").cast(LongType).as("centroid_d2"),
        coalesce(col("pruned"), lit(false)).as("pruned"))
  }

  val x124Oracle: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |cseeds AS (SELECT vec_id AS cw, qv AS cv FROM q WHERE vec_id < 8),
      |ca1 AS (
      |  SELECT q.vec_id, q.qv, cseeds.cw,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS d
      |  FROM q CROSS JOIN cseeds
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |    ORDER BY d, cseeds.cw) = 1),
      |ccb AS (
      |  SELECT cw, p.p AS p,
      |    CAST(floor(CAST(SUM(qv[p.p]) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
      |      AS cwv
      |  FROM ca1, generate_series(1, 64) p(p)
      |  GROUP BY cw, p),
      |ccbv AS (SELECT cw, list(cwv ORDER BY p) AS cv FROM ccb GROUP BY cw),
      |cells AS (
      |  SELECT q.vec_id, q.qv, ccbv.cw AS cell,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS cd
      |  FROM q CROSS JOIN ccbv
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |    ORDER BY cd, ccbv.cw) = 1),
      |near AS (
      |  SELECT a.vec_id AS ia, b.vec_id AS ib, a.cd AS a_cd, b.cd AS b_cd
      |  FROM cells a JOIN cells b
      |    ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE list_sum(list_transform(generate_series(1, 64),
      |      i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))) <= 130000000),
      |pruned AS (
      |  SELECT DISTINCT CASE WHEN a_cd < b_cd THEN ia
      |    WHEN b_cd < a_cd THEN ib ELSE ib END AS vec_id
      |  FROM near)
      |SELECT c.vec_id, CAST(c.cell AS INT) AS cell,
      |  CAST(c.cd AS BIGINT) AS centroid_d2,
      |  p.vec_id IS NOT NULL AS pruned
      |FROM cells c LEFT JOIN pruned p ON c.vec_id = p.vec_id""".stripMargin

  /** URL takedown sweep — corpus governance at the canonical-URL key
    * (the DMCA/robots-retroactive case): a takedown list of canonical
    * URLs (here: every URL whose source id ≡ 0 mod 7 — a deterministic
    * stand-in for the externally-supplied list) is applied to the
    * corpus, and the audit a compliance job files is emitted per
    * registered domain: total documents, removed, kept. The q79
    * deletion-cascade shape on the curation plane: the takedown KEY SET
    * rides a broadcast into a semi probe — the corpus never shuffles.
    * Canonicalization (x63 / [[graft.text.UrlOps]]) is what makes the
    * list effective: raw-URL matching would miss every case/port/slash/
    * param variant of a listed page. */
  def x79_url_takedown(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.UrlOps
    val raw = documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"))
      .withColumn("url_raw", messyCrawlUrl)
    val canon = UrlOps.withRegisteredDomain(raw, col("url_raw"), "domain")
      .select(col("doc_id"), col("source"),
        UrlOps.canonicalize(col("url_raw")).as("url_canon"), col("domain"))
    val takedown = canon
      .filter(pmod(substring(col("source"), 4, 10).cast(IntegerType),
        lit(7)) === 0)
      .select(col("url_canon")).distinct()
    val flagged = canon.join(broadcast(takedown.withColumn("__graft_td", lit(1))),
        Seq("url_canon"), "left")
      .withColumn("removed", col("__graft_td").isNotNull)
    flagged.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"))
      .withColumn("n_kept", col("n_total") - col("n_removed"))
  }

  val x79Oracle: String =
    "WITH " + pslCtesSql + ",\n" +
    """u AS (
      |  SELECT doc_id, source,
      |    """.stripMargin + messyCrawlUrlSql + " AS url_raw\n" +
    """  FROM documents),
      |p AS (
      |  SELECT doc_id, source,
      |    lower(regexp_extract(url_raw, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
      |    lower(regexp_extract(url_raw, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hp,
      |    regexp_extract(url_raw, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS pth,
      |    regexp_extract(url_raw, '\?([^#]*)', 1) AS qry
      |  FROM u),
      |c AS (
      |  SELECT doc_id, source, sch,
      |    regexp_replace(
      |      CASE WHEN sch = 'https' THEN regexp_replace(hp, ':443$', '')
      |           WHEN sch = 'http' THEN regexp_replace(hp, ':80$', '')
      |           ELSE hp END, '^www\.([^.]+\..+)', '\1') AS host,
      |    CASE WHEN regexp_replace(pth, '/+$', '') = '' THEN '/'
      |         ELSE regexp_replace(pth, '/+$', '') END AS cpath,
      |    CASE WHEN qry = '' THEN ''
      |         ELSE '?' || array_to_string(list_sort(string_split(qry, '&')), '&') END AS cq
      |  FROM p),
      |canon AS (
      |  SELECT doc_id, source, sch || '://' || host || cpath || cq AS url_canon,
      |    """.stripMargin +
    pslFullDomainSql("host") + " AS domain\n" +
    """  FROM c),
      |takedown AS (
      |  SELECT DISTINCT url_canon FROM canon
      |  WHERE CAST(substr(source, 4) AS INT) % 7 = 0)
      |SELECT domain, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN t.url_canon IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  COUNT(*) - CAST(SUM(CASE WHEN t.url_canon IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM canon c2 LEFT JOIN takedown t ON c2.url_canon = t.url_canon
      |GROUP BY domain""".stripMargin

  /** Epoch-mix repeat plan — the data-mixing step that turns per-source
    * target weights into per-document replication factors (epoch factors:
    * a 2.75-weight source repeats every doc twice and a deterministic
    * three-quarters of them a third time). The fractional part is a
    * per-doc md5 draw against an integer threshold — integer-exact,
    * engine-reproducible, oracle-replayable; weights derive here from
    * the source id in exact quarters (0.5 / 1.25 / 2.0 / 2.75).
    * Scale shape: FULLY NARROW — a real pipeline broadcasts the weight
    * table, the draw is a scan-fused expression, zero exchanges at any
    * corpus size; downstream the expected repeat mass per source audits
    * with one partial-combining aggregate. */
  def x64_epoch_mix_plan(spark: SparkSession, dir: String): DataFrame = {
    val srcI = substring(col("source"), 4, 10).cast(IntegerType)
    // weight in quarters: 2,5,8,11 → 0.5, 1.25, 2.0, 2.75 epochs
    val wNum = lit(2) + pmod(srcI, lit(4)) * lit(3)
    val draw = pmod(graft.text.TextOps.stableHash64(
      concat(lit("x64|"), col("doc_id").cast(StringType))), lit(4L))
    documents(spark, dir).select(
      col("doc_id"), col("source"),
      (wNum.cast(DoubleType) / lit(4.0)).as("weight"),
      (call_function("div", wNum, lit(4)).cast(LongType) +
        when(draw < pmod(wNum, lit(4)).cast(LongType), 1L).otherwise(0L))
        .as("n_repeats"))
  }

  val x64Oracle: String =
    """SELECT doc_id, source,
      |  CAST(2 + (CAST(substr(source, 4) AS INT) % 4) * 3 AS DOUBLE) / 4.0 AS weight,
      |  CAST((2 + (CAST(substr(source, 4) AS INT) % 4) * 3) // 4 AS BIGINT)
      |    + CASE WHEN CAST(('0x' || substr(md5('x64|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4
      |             < (2 + (CAST(substr(source, 4) AS INT) % 4) * 3) % 4
      |      THEN 1 ELSE 0 END AS n_repeats
      |FROM documents""".stripMargin

  /** OOV-rate against the LEARNED vocabulary — the coverage audit run
    * before committing to a tokenizer: the share of each document's
    * tokens outside the top-24 staged word-frequency vocabulary (the
    * x55/x61 artifact, deterministic (wf DESC, w) tie-break). Third
    * consumer of [[stagedWordFreq]]: the corpus is tokenized once per
    * dataset content, never re-exploded per consumer.
    * Scale shape: the top-k runs over the VOCABULARY (TakeOrdered on
    * |vocab| rows, never a corpus sort) and broadcasts into the token
    * join; per-doc counts partial-combine before the one doc_id
    * exchange. */
  def x65_oov_rate(spark: SparkSession, dir: String): DataFrame = {
    val vocab = stagedWordFreq(spark, dir)
      .orderBy(col("wf").desc, col("w")).limit(24)
      .select(col("w"), lit(1).as("__graft_iv"))
    val toks = documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__graft_iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast(DoubleType) / col("n_tokens").cast(DoubleType))
  }

  val x65Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |tt AS (SELECT doc_id, w FROM toks WHERE w <> ''),
      |wf AS (
      |  SELECT w, COUNT(*) AS wf FROM tt
      |  WHERE NOT contains(w, chr(31)) GROUP BY w),
      |vocab AS (SELECT w FROM wf ORDER BY wf DESC, w LIMIT 24)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS oov_rate
      |FROM tt LEFT JOIN vocab v ON tt.w = v.w
      |GROUP BY doc_id""".stripMargin

  /** Intra-document language-consistency audit (code-switch detection):
    * the x03 marker-scoring language ID applied independently to the
    * first and second halves of each document's token stream; a document
    * whose halves disagree (both determinate) is flagged — the curation
    * signal for spliced/concatenated crawl documents that a whole-doc
    * language ID averages away.
    * Scale shape: fully narrow — both half-scores are array HOFs fused
    * into the scan (no explode, no shuffle); the argmax is the same
    * deterministic alphabetical tie-break x03 pins. */
  def x66_code_switch(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        TextOps.tokens(col("text")).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__h",
        call_function("div", col("__n").cast(LongType), lit(2L))
          .cast(IntegerType))
    d.select(col("doc_id"), col("labeled_lang"),
        TextOps.languageIdOf(slice(col("__toks"), lit(1), col("__h")))
          .as("lang_head"),
        TextOps.languageIdOf(
          slice(col("__toks"), col("__h") + 1, col("__n") - col("__h")))
          .as("lang_tail"))
      .withColumn("code_switch",
        col("lang_head") =!= col("lang_tail") &&
          col("lang_head") =!= "und" && col("lang_tail") =!= "und")
  }

  val x66Oracle: String = {
    def score(alias: String, markers: Seq[String]) =
      s"len(list_filter($alias, x -> x IN (${markers.map("'" + _ + "'").mkString(",")})))"
    val langs = TextOps.languageMarkers.keys.toSeq.sorted // de,en,es,fr,zh
    def argmax(prefix: String) = {
      val best = s"greatest(${langs.map(l => s"${prefix}_$l").mkString(",")})"
      s"CASE ${langs.map(l => s"WHEN $best > 0 AND ${prefix}_$l = $best THEN '$l'").mkString(" ")} ELSE 'und' END"
    }
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split_regex(text, '\\s+') AS w FROM documents),
       |h AS (
       |  SELECT doc_id, lang, w[1:len(w)//2] AS wh,
       |    w[len(w)//2+1:len(w)] AS wt
       |  FROM t),
       |scored AS (
       |  SELECT doc_id, lang,
       |    ${langs.map(l => s"${score("wh", TextOps.languageMarkers(l))} AS h_$l").mkString(", ")},
       |    ${langs.map(l => s"${score("wt", TextOps.languageMarkers(l))} AS t_$l").mkString(", ")}
       |  FROM h),
       |pred AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |    ${argmax("h")} AS lang_head, ${argmax("t")} AS lang_tail
       |  FROM scored)
       |SELECT doc_id, labeled_lang, lang_head, lang_tail,
       |  lang_head <> lang_tail AND lang_head <> 'und' AND lang_tail <> 'und' AS code_switch
       |FROM pred""".stripMargin
  }

  val x60Oracle: String =
    """WITH r AS (
      |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT doc_id, source, n_chars,
      |  CAST(rk AS DOUBLE) / CAST(n AS DOUBLE) AS pct,
      |  CAST(rk AS DOUBLE) / CAST(n AS DOUBLE) > 0.5 AS keep
      |FROM r""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x81_softdedup_weights" -> (x81_softdedup_weights _),
    "x82_subword_budget_mix" -> (x82_subword_budget_mix _),
    "x83_subword_shards" -> (x83_subword_shards _),
    "x84_bpe_iter2" -> (x84_bpe_iter2 _),
    "x85_ivf_delta_append" -> (x85_ivf_delta_append _),
    "x86_audio_token_budget" -> (x86_audio_token_budget _),
    "x87_pii_domain_audit" -> (x87_pii_domain_audit _),
    "x88_shard_manifest" -> (x88_shard_manifest _),
    "x89_unicode_normalize" -> (x89_unicode_normalize _),
    "x90_dedup_threshold_sweep" -> (x90_dedup_threshold_sweep _),
    "x91_vocab_drift" -> (x91_vocab_drift _),
    "x92_curriculum_schedule" -> (x92_curriculum_schedule _),
    "x93_bpe_vocab" -> (x93_bpe_vocab _),
    "x94_bigram_lm_quality" -> (x94_bigram_lm_quality _),
    "x95_quality_tiers" -> (x95_quality_tiers _),
    "x96_quality_survivor" -> (x96_quality_survivor _),
    "x98_lsh_scurve" -> (x98_lsh_scurve _),
    "x99_vocab_growth" -> (x99_vocab_growth _),
    "x100_zipf_spectrum" -> (x100_zipf_spectrum _),
    "x101_trigram_backoff" -> (x101_trigram_backoff _),
    "x102_lang_confusion" -> (x102_lang_confusion _),
    "x103_cross_source_neardup" -> (x103_cross_source_neardup _),
    "x104_embedding_health" -> (x104_embedding_health _),
    "x105_manifest_diff" -> (x105_manifest_diff _),
    "x106_incremental_index" -> (x106_incremental_index _),
    "x107_sparse_retrieval" -> (x107_sparse_retrieval _),
    "x108_pq_ann" -> (x108_pq_ann _),
    "x109_ivf_pq" -> (x109_ivf_pq _),
    "x110_ivf_cell_balance" -> (x110_ivf_cell_balance _),
    "x111_pq_frontier" -> (x111_pq_frontier _),
    "x113_hybrid_retrieval" -> (x113_hybrid_retrieval _),
    "x114_importance_resample" -> (x114_importance_resample _),
    "x115_topic_balanced_sample" -> (x115_topic_balanced_sample _),
    "x116_doremi_reweight" -> (x116_doremi_reweight _),
    "x118_bitext_margin_mining" -> (x118_bitext_margin_mining _),
    "x119_k_anonymity_audit" -> (x119_k_anonymity_audit _),
    "x120_retrieval_ablation" -> (x120_retrieval_ablation _),
    "x121_ann_rerank" -> (x121_ann_rerank _),
    "x122_mrl_truncation_recall" -> (x122_mrl_truncation_recall _),
    "x123_l_diversity_audit" -> (x123_l_diversity_audit _),
    "x124_semantic_cluster_dedup" -> (x124_semantic_cluster_dedup _),
    "x80_vision_token_budget" -> (x80_vision_token_budget _),
    "x79_url_takedown" -> (x79_url_takedown _),
    "x78_tokenizer_fertility" -> (x78_tokenizer_fertility _),
    "x77_jl_recall" -> (x77_jl_recall _),
    "x76_jl_projection" -> (x76_jl_projection _),
    "x75_pack_efficiency" -> (x75_pack_efficiency _),
    "x74_effective_tokens" -> (x74_effective_tokens _),
    "x73_dataset_card" -> (x73_dataset_card _),
    "x72_incremental_near_dedup" -> (x72_incremental_near_dedup _),
    "x71_hard_negatives" -> (x71_hard_negatives _),
    "x70_neardup_degree" -> (x70_neardup_degree _),
    "x69_chunk_mean_pool" -> (x69_chunk_mean_pool _),
    "x68_subword_packing" -> (x68_subword_packing _),
    "x67_subword_budget" -> (x67_subword_budget _),
    "x66_code_switch" -> (x66_code_switch _),
    "x65_oov_rate" -> (x65_oov_rate _),
    "x64_epoch_mix_plan" -> (x64_epoch_mix_plan _),
    "x63_url_domain_dedup" -> (x63_url_domain_dedup _),
    "x62_substring_clean" -> (x62_substring_clean _),
    "x61_bpe_encode" -> (x61_bpe_encode _),
    "x60_quality_calibration" -> (x60_quality_calibration _),
    "x59_balanced_shards" -> (x59_balanced_shards _),
    "x58_topk_per_source" -> (x58_topk_per_source _),
    "x57_countmin_heavy_hitters" -> (x57_countmin_heavy_hitters _),
    "x56_containment_audit" -> (x56_containment_audit _),
    "x55_bpe_merge_pairs" -> (x55_bpe_merge_pairs _),
    "x54_histogram_quantiles" -> (x54_histogram_quantiles _),
    "x53_inverted_index" -> (x53_inverted_index _),
    "x52_cdc_chunking" -> (x52_cdc_chunking _),
    "x51_skew_profile" -> (x51_skew_profile _),
    "x50_bigram_novelty" -> (x50_bigram_novelty _),
    "x49_hll_distinct" -> (x49_hll_distinct _),
    "x48_ann_ivf_persisted" -> (x48_ann_ivf_persisted _),
    "x47_simhash_hamming" -> (x47_simhash_hamming _),
    "x46_token_budget_mix" -> (x46_token_budget_mix _),
    "x45_bucketed_snapshot_diff" -> (x45_bucketed_snapshot_diff _),
    "x44_source_overlap" -> (x44_source_overlap _),
    "x43_mad_length_filter" -> (x43_mad_length_filter _),
    "x42_incremental_dedup" -> (x42_incremental_dedup _),
    "x41_bottomk_sample" -> (x41_bottomk_sample _),
    "x40_snapshot_diff" -> (x40_snapshot_diff _),
    "x39_semantic_dedup" -> (x39_semantic_dedup _),
    "x38_split_leakage_audit" -> (x38_split_leakage_audit _),
    "x37_embed_quantize" -> (x37_embed_quantize _),
    "x36_leakage_safe_split" -> (x36_leakage_safe_split _),
    "x35_rare_token_score" -> (x35_rare_token_score _),
    "x34_global_shuffle" -> (x34_global_shuffle _),
    "x33_dedup_survivor" -> (x33_dedup_survivor _),
    "x32_temperature_mix" -> (x32_temperature_mix _),
    "x31_lsh_multi_table" -> (x31_lsh_multi_table _),
    "x30_sequence_packing" -> (x30_sequence_packing _),
    "x29_boilerplate_spans" -> (x29_boilerplate_spans _),
    "x28_substring_dup" -> (x28_substring_dup _),
    "x27_pii_scrub" -> (x27_pii_scrub _),
    "x26_chunk_windows" -> (x26_chunk_windows _),
    "x25_source_quota" -> (x25_source_quota _),
    "x24_ngram_overlap" -> (x24_ngram_overlap _),
    "x23_centroid_assign" -> (x23_centroid_assign _),
    "x22_repetition_filter" -> (x22_repetition_filter _),
    "x21_decontaminate" -> (x21_decontaminate _),
    "x20_ngram_stats" -> (x20_ngram_stats _),
    "x19_stratified_sample" -> (x19_stratified_sample _),
    "x18_fuzzy_levenshtein" -> (x18_fuzzy_levenshtein _),
    "x16_tfidf" -> (x16_tfidf _),
    "x17_train_test_split" -> (x17_train_test_split _),
    "x15_dup_components" -> (x15_dup_components _),
    "x14_clean_corpus" -> (x14_clean_corpus _),
    "x12_ngram_jaccard" -> (x12_ngram_jaccard _),
    "x13_knn_lsh" -> (x13_knn_lsh _),
    "x11_ann_ivf" -> (x11_ann_ivf _),
    "x01_token_count" -> (x01_token_count _),
    "x02_quality_score" -> (x02_quality_score _),
    "x03_langid" -> (x03_langid _),
    "x04_fingerprint" -> (x04_fingerprint _),
    "x05_dedup_exact" -> (x05_dedup_exact _),
    "x06_dedup_minhash_lsh" -> (x06_dedup_minhash_lsh _),
    "x07_dedup_simhash" -> (x07_dedup_simhash _),
    "x08_embedding_near_dup" -> (x08_embedding_near_dup _),
    "x09_knn_bruteforce" -> (x09_knn_bruteforce _),
    "x10_multimodal_meta" -> (x10_multimodal_meta _))

  val oracle: Map[String, String] = Map(
    "x81_softdedup_weights" -> x81Oracle,
    "x82_subword_budget_mix" -> x82Oracle,
    "x83_subword_shards" -> x83Oracle,
    "x84_bpe_iter2" -> x84Oracle,
    "x85_ivf_delta_append" -> x85Oracle,
    "x86_audio_token_budget" -> x86Oracle,
    "x87_pii_domain_audit" -> x87Oracle,
    "x88_shard_manifest" -> x88Oracle,
    "x89_unicode_normalize" -> x89Oracle,
    "x90_dedup_threshold_sweep" -> x90Oracle,
    "x91_vocab_drift" -> x91Oracle,
    "x92_curriculum_schedule" -> x92Oracle,
    "x93_bpe_vocab" -> x93Oracle,
    "x94_bigram_lm_quality" -> x94Oracle,
    "x95_quality_tiers" -> x95Oracle,
    "x96_quality_survivor" -> x96Oracle,
    "x98_lsh_scurve" -> x98Oracle,
    "x99_vocab_growth" -> x99Oracle,
    "x100_zipf_spectrum" -> x100Oracle,
    "x101_trigram_backoff" -> x101Oracle,
    "x102_lang_confusion" -> x102Oracle,
    "x103_cross_source_neardup" -> x103Oracle,
    "x104_embedding_health" -> x104Oracle,
    "x105_manifest_diff" -> x105Oracle,
    "x106_incremental_index" -> x106Oracle,
    "x107_sparse_retrieval" -> x107Oracle,
    "x108_pq_ann" -> x108Oracle,
    "x109_ivf_pq" -> x109Oracle,
    "x110_ivf_cell_balance" -> x110Oracle,
    "x111_pq_frontier" -> x111Oracle,
    "x113_hybrid_retrieval" -> x113Oracle,
    "x114_importance_resample" -> x114Oracle,
    "x115_topic_balanced_sample" -> x115Oracle,
    "x116_doremi_reweight" -> x116Oracle,
    "x118_bitext_margin_mining" -> x118Oracle,
    "x119_k_anonymity_audit" -> x119Oracle,
    "x120_retrieval_ablation" -> x120Oracle,
    "x121_ann_rerank" -> x121Oracle,
    "x122_mrl_truncation_recall" -> x122Oracle,
    "x123_l_diversity_audit" -> x123Oracle,
    "x124_semantic_cluster_dedup" -> x124Oracle,
    "x80_vision_token_budget" -> x80Oracle,
    "x79_url_takedown" -> x79Oracle,
    "x78_tokenizer_fertility" -> x78Oracle,
    "x77_jl_recall" -> x77Oracle,
    "x76_jl_projection" -> x76Oracle,
    "x75_pack_efficiency" -> x75Oracle,
    "x74_effective_tokens" -> x74Oracle,
    "x73_dataset_card" -> x73Oracle,
    "x72_incremental_near_dedup" -> x72Oracle,
    "x71_hard_negatives" -> x71Oracle,
    "x70_neardup_degree" -> x70Oracle,
    "x69_chunk_mean_pool" -> x69Oracle,
    "x68_subword_packing" -> x68Oracle,
    "x67_subword_budget" -> x67Oracle,
    "x66_code_switch" -> x66Oracle,
    "x65_oov_rate" -> x65Oracle,
    "x64_epoch_mix_plan" -> x64Oracle,
    "x63_url_domain_dedup" -> x63Oracle,
    "x62_substring_clean" -> x62Oracle,
    "x61_bpe_encode" -> x61Oracle,
    "x60_quality_calibration" -> x60Oracle,
    "x59_balanced_shards" -> x59Oracle,
    "x58_topk_per_source" -> x58Oracle,
    "x57_countmin_heavy_hitters" -> x57Oracle,
    "x56_containment_audit" -> x56Oracle,
    "x55_bpe_merge_pairs" -> x55Oracle,
    "x54_histogram_quantiles" -> x54Oracle,
    "x53_inverted_index" -> x53Oracle,
    "x52_cdc_chunking" -> x52Oracle,
    "x51_skew_profile" -> x51Oracle,
    "x50_bigram_novelty" -> x50Oracle,
    "x49_hll_distinct" -> x49Oracle,
    "x48_ann_ivf_persisted" -> x11Oracle,
    "x47_simhash_hamming" -> x47Oracle,
    "x46_token_budget_mix" -> x46Oracle,
    "x45_bucketed_snapshot_diff" -> x40Oracle,
    "x44_source_overlap" -> x44Oracle,
    "x43_mad_length_filter" -> x43Oracle,
    "x42_incremental_dedup" -> x42Oracle,
    "x41_bottomk_sample" -> x41Oracle,
    "x40_snapshot_diff" -> x40Oracle,
    "x39_semantic_dedup" -> x39Oracle,
    "x01_token_count" -> x01Oracle,
    "x02_quality_score" -> x02Oracle,
    "x03_langid" -> x03Oracle,
    "x04_fingerprint" -> x04Oracle,
    "x05_dedup_exact" -> x05Oracle,
    "x06_dedup_minhash_lsh" -> x06Oracle,
    "x07_dedup_simhash" -> x07Oracle,
    "x08_embedding_near_dup" -> x08Oracle,
    "x09_knn_bruteforce" -> x09Oracle,
    "x10_multimodal_meta" -> x10Oracle,
    "x11_ann_ivf" -> x11Oracle,
    "x12_ngram_jaccard" -> x12Oracle,
    "x13_knn_lsh" -> x13Oracle,
    "x14_clean_corpus" -> x14Oracle,
    "x15_dup_components" -> x15Oracle,
    "x16_tfidf" -> x16Oracle,
    "x17_train_test_split" -> x17Oracle,
    "x18_fuzzy_levenshtein" -> x18Oracle,
    "x19_stratified_sample" -> x19Oracle,
    "x20_ngram_stats" -> x20Oracle,
    "x21_decontaminate" -> x21Oracle,
    "x22_repetition_filter" -> x22Oracle,
    "x23_centroid_assign" -> x23Oracle,
    "x24_ngram_overlap" -> x24Oracle,
    "x25_source_quota" -> x25Oracle,
    "x26_chunk_windows" -> x26Oracle,
    "x27_pii_scrub" -> x27Oracle,
    "x28_substring_dup" -> x28Oracle,
    "x29_boilerplate_spans" -> x29Oracle,
    "x30_sequence_packing" -> x30Oracle,
    "x31_lsh_multi_table" -> x31Oracle,
    "x32_temperature_mix" -> x32Oracle,
    "x33_dedup_survivor" -> x33Oracle,
    "x34_global_shuffle" -> x34Oracle,
    "x35_rare_token_score" -> x35Oracle,
    "x36_leakage_safe_split" -> x36Oracle,
    "x37_embed_quantize" -> x37Oracle,
    "x38_split_leakage_audit" -> x38Oracle)
}
