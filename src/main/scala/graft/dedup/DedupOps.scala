package graft.dedup

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design (100 TB posture):
  *  - signatures/shingles are computed as narrow per-row array expressions
  *    (no shuffle, no UDF, all codegen'd);
  *  - candidate generation is a *band-bucket equi-join* (shuffle on band
  *    key), never an O(n²) cross join — pairs only materialize inside a
  *    bucket;
  *  - exact dedup is a hash aggregate on the content fingerprint, which
  *    map-side combines before the shuffle.
  * Hashes are md5-derived (not Murmur3 `hash()`) so every signature is
  * reproducible by any SQL engine — the oracle contract.
  */
object DedupOps {

  /** Distinct word n-gram shingles ("w1 w2 w3"-style). Short documents
    * (< n words) contribute their single truncated shingle. */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesOf(TextOps.tokens(text), n)

  /** Token-array variant: reuse an already-materialized `toks` column so
    * the split isn't re-evaluated per consumer (see
    * [[graft.text.TextOps.stopwordCountOf]]). Backed by the native
    * codegen'd [[graft.functions.Shingles]] (ShingleHashSpec pins parity
    * with the HOF chain); the coalesce keeps the HOF chain's NULL-
    * toks contract (the single "" shingle, never NULL). */
  def shinglesOf(ws: Column, n: Int): Column =
    coalesce(graft.functions.NativeFunctions.shingles(ws, n),
      typedLit(Seq("")))

  /** Mersenne prime 2³¹−1: the universal-hash modulus. */
  val HashPrime = 2147483647L

  /** (a, b) parameters of the 8 default universal-hash permutations. */
  val DefaultPerms: Seq[(Long, Long)] = Seq(
    (1000003L, 12345L), (1000033L, 54321L), (1000211L, 11111L), (1000231L, 99999L),
    (1000249L, 22222L), (1000253L, 33333L), (1000273L, 44444L), (1000289L, 55555L))

  /** Shingle set → integer hash set: one md5 per shingle (engine-
    * reproducible), reduced mod 2³¹−1 so permutation arithmetic stays in
    * Long range. Interpreted HOF — prefer [[hashedShinglesOf]] in hot
    * paths; this stays as the parity reference (ShingleHashSpec). */
  def hashedShingles(shingleSet: Column): Column =
    transform(shingleSet, s => TextOps.stableHash64(s) % HashPrime)

  /** Fused token-array → distinct-shingle → 60-bit-hash front, backed by
    * the native codegen'd [[graft.functions.HashedShingles]] — one
    * compiled loop per row instead of three interpreted HOF passes
    * (slice+concat per shingle, array_distinct, md5-hex+radix-parse per
    * shingle). Bit-identical to
    * `hashedShingles(shinglesOf(toks, n))` (ShingleHashSpec pins it);
    * the signature pipeline's per-row cost is what every MinHash/LSH
    * operator pays on the full corpus (guide §4). */
  def hashedShinglesOf(toks: Column, n: Int): Column =
    coalesce(graft.functions.NativeFunctions.hashedShingles(toks, n, HashPrime),
      // NULL toks contract of the HOF chain: greatest(size(null)−(n−1), 1)
      // = 1 → the single "" shingle → [hash60("") % prime], never NULL
      typedLit(Seq(
        graft.functions.ShingleHashOps.hash60(Array.empty[Byte]) % HashPrime)))

  /** Numeric MinHash: min of (a·h + b) mod p over the hashed shingle set —
    * 8 signatures cost one md5 pass + cheap integer folds. */
  def minhashNumeric(hashedSet: Column, a: Long, b: Long): Column =
    array_min(transform(hashedSet, h => (h * a + lit(b)) % HashPrime))

  def minhashSignatureNumeric(hashedSet: Column,
      perms: Seq[(Long, Long)] = DefaultPerms): Seq[(String, Column)] =
    perms.zipWithIndex.map { case ((a, b), i) =>
      s"sig$i" -> minhashNumeric(hashedSet, a, b)
    }

  /** All `perms.length` MinHash values in ONE pass over the hashed shingle
    * set, as an array column. Critical at scale: separate sig columns get
    * their shared input inlined per column by CollapseProject, multiplying
    * the (md5-heavy) shingle hashing by the signature width — the single
    * pass keeps it at one. Backed by the native codegen'd
    * [[graft.functions.MinHashSig]] expression (a primitive `long[]` loop
    * inside whole-stage codegen); DedupPropertySpec pins it against an
    * interpreted higher-order-function fold. */
  def minhashSignatureArray(hashedSet: Column,
      perms: Seq[(Long, Long)] = DefaultPerms): Column =
    graft.functions.NativeFunctions.minhashSig(hashedSet, perms)

  /** Band keys from a signature array: md5 of the '|'-joined slice per
    * band. Same key material as [[bandKeysNumeric]]. `nBands×rowsPerBand`
    * must fit the signature — an out-of-range band would slice an EMPTY
    * array, md5('') the same constant key for every doc, and form one
    * corpus-sized bucket that lshCandidatePairs silently drops
    * (`maxBucket`): a band contributing zero candidates with no error. */
  def bandKeysFromSigArray(sigArr: Column, rowsPerBand: Int, nBands: Int,
      sigLen: Int = DefaultPerms.length): Column = {
    require(rowsPerBand > 0 && nBands > 0 && nBands * rowsPerBand <= sigLen,
      s"bands ($nBands × $rowsPerBand) exceed the signature length $sigLen")
    transform(sequence(lit(0), lit(nBands - 1)), bi =>
      md5(array_join(
        transform(slice(sigArr, bi * rowsPerBand + 1, lit(rowsPerBand)),
          x => x.cast(org.apache.spark.sql.types.StringType)), "|")))
  }

  /** Band keys over numeric signatures: md5 of the '|'-joined band.
    * ('|'-delimited, ALWAYS: an undelimited concat would collide bands
    * (1, 23) and (12, 3) into the same key.) */
  def bandKeysNumeric(sigCols: Seq[Column], rowsPerBand: Int): Column = {
    require(sigCols.length % rowsPerBand == 0, "signature length must divide into bands")
    array(sigCols.grouped(rowsPerBand)
      .map(g => md5(concat_ws("|", g.map(_.cast(org.apache.spark.sql.types.StringType)): _*)))
      .toSeq: _*)
  }

  /** Candidate pairs via band buckets. Input must carry `idCol` and an
    * array column `bandsCol`; output: distinct (doc_a, doc_b), doc_a <
    * doc_b.
    *
    * Scale shape: ONE shuffle (groupBy band key) computes the signature
    * pipeline exactly once, then each bucket emits its id-pair
    * combinations locally. A band self-join would evaluate the signature
    * expressions once per join side (and candidate generation is quadratic
    * per bucket either way); `maxBucket` caps pathological buckets — an
    * all-identical-key skew bucket at 100 TB would otherwise emit |b|²
    * pairs. Oversize buckets are dropped (they indicate a degenerate band,
    * not near-duplicates). */
  def lshCandidatePairs(df: DataFrame, idCol: String, bandsCol: String,
      maxBucket: Int = 10000): DataFrame = {
    val exploded = df.select(
      col(idCol).as("__id"),
      posexplode(col(bandsCol)).as(Seq("band_idx", "band_key")))
    lshCandidatePairsTagged(exploded, Nil, maxBucket)
  }

  /** [[lshCandidatePairs]] over an ALREADY-EXPLODED band frame carrying
    * extra tag columns (e.g. a per-config (rows_per_band, n_bands) pair):
    * buckets group on (tags, band_idx, band_key) and pairs dedup on
    * (tags, doc_a, doc_b) — exactly the per-tag union of the plain form,
    * in ONE shuffle + one dedup instead of one pipeline per tag (x98's
    * four-config S-curve sweep; equivalence pinned in
    * TrainingDataOpsSpec and by the x98 oracle gate). `exploded` must
    * carry `__id`, `band_idx`, `band_key` plus `tagCols`. */
  private[graft] def lshCandidatePairsTagged(exploded: DataFrame,
      tagCols: Seq[String], maxBucket: Int = 10000): DataFrame = {
    val keyCols = (tagCols :+ "band_idx") :+ "band_key"
    val buckets = exploded
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(col("__id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    // all i<j combinations from the sorted bucket
    val combos = flatten(transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + lit(2), size(col("ids")) - i - 1),
        y => struct(x.as("a"), y.as("b")))))
    buckets.select(tagCols.map(col) :+ explode(combos).as("p"): _*)
      .select(tagCols.map(col) ++ Seq(
        col("p.a").as("doc_a"), col("p.b").as("doc_b")): _*)
      .dropDuplicates(tagCols ++ Seq("doc_a", "doc_b"))
  }

  /** Jaccard similarity of two pre-distinct shingle arrays, as DOUBLE.
    * Backed by the native codegen'd [[graft.functions.JaccardSim]]: one
    * hash-set pass computes |∩| and |∪| without materializing either
    * array — the HOF spelling pays three hash structures and two output
    * arrays per candidate pair only to take their sizes. Bit-identical
    * to that spelling (JaccardSpec pins it, incl. the empty∪empty →
    * NULL divide edge and NULL/duplicate elements). */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.NativeFunctions.jaccardSim(a, b)

  /** SimHash over the distinct token set, `bits` wide (bit b of the
    * signature = sign of Σ_tokens (2·bit_b(h(token)) − 1)). md5-derived
    * 60-bit token hash keeps it engine-reproducible.
    *
    * Cost shape: interpreted HOF expressions get no common-subexpression
    * elimination, so the naive per-bit formulation (one `aggregate` per
    * bit, each re-deriving `stableHash64`) pays `bits` md5s PER TOKEN —
    * and a join that references the signature in its key gets the whole
    * expression re-inlined into the pushed `isnotnull` filter on BOTH
    * sides, multiplying that again (the x18 probe measured ~4
    * evaluations per doc). This formulation hashes each token ONCE: one
    * `transform` to the hash array, one fold carrying all `bits`
    * accumulators as an array (`shiftright` via `call_function` — the
    * SQL builtin takes a column shift amount, the Scala wrapper doesn't),
    * and one positional fold to assemble the signature. Semantics are
    * bit-identical to the per-bit form (SimHash parity spec). */
  def simhash(text: Column, bits: Int = 8): Column = {
    val hs = transform(array_distinct(TextOps.tokens(text)),
      w => TextOps.stableHash64(w))
    val folded = aggregate(hs, array(Seq.fill(bits)(lit(0)): _*),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(bits - 1)),
        (a, b) => a +
          (call_function("shiftright", h, b).bitwiseAND(lit(1L)) * 2 - 1)
            .cast(IntegerType)))
    // coalesce: NULL text propagates NULL through the HOF folds, but the
    // per-bit form (and the oracle's CASE arms) yields 0 — a NULL here
    // would also vanish from any join that keys on the signature (pushed
    // isnotnull), silently dropping the doc from blocked dedup
    coalesce(
      aggregate(folded, struct(lit(1).as("p"), lit(0).as("sig")),
        (acc, s) => struct(
          (acc.getField("p") * 2).as("p"),
          (acc.getField("sig") + when(s >= 0, acc.getField("p")).otherwise(lit(0))).as("sig")),
        acc => acc.getField("sig")),
      lit(0))
  }

  /** [[simhash]] with a LONG signature fold — widths up to 62 bits (the
    * Int-accumulator form overflows its `p` power past bit 31). Same
    * single-pass per-token hashing; per-bit sums stay Int (they count
    * tokens), only the signature fold widens. */
  def simhashLong(text: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1,62], got $bits")
    val hs = transform(array_distinct(TextOps.tokens(text)),
      w => TextOps.stableHash64(w))
    val folded = aggregate(hs, array(Seq.fill(bits)(lit(0)): _*),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(bits - 1)),
        (a, b) => a +
          (call_function("shiftright", h, b).bitwiseAND(lit(1L)) * 2 - 1)
            .cast(IntegerType)))
    coalesce(
      aggregate(folded, struct(lit(1L).as("p"), lit(0L).as("sig")),
        (acc, s) => struct(
          (acc.getField("p") * 2).as("p"),
          (acc.getField("sig") + when(s >= 0, acc.getField("p")).otherwise(lit(0L))).as("sig")),
        acc => acc.getField("sig")),
      lit(0L))
  }

  /** Exact-duplicate groups on a key expression: one survivor (min id) per
    * group plus group size. Hash aggregate → map-side partial combine. */
  def exactDedup(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("group_size"))

  /** Incremental dedup: classify a DELTA of new documents against an
    * already-deduplicated corpus WITHOUT re-processing the corpus — the
    * shape a continuously-ingesting training pipeline actually runs (a
    * nightly crawl dedups its delta against the corpus fingerprint index;
    * it never re-pairs 100 TB of history).
    *
    * Verdicts per delta row: `dup_of_corpus` (key already in the corpus —
    * every delta copy is a dup, the corpus already holds the survivor),
    * `dup_in_delta` (key new to the corpus but duplicated inside the
    * delta — only the min-id copy survives), `new` (the survivor).
    *
    * Shapes at scale: the corpus participates ONLY as its distinct-key
    * index (one narrow column, partial-combining distinct — or, kept
    * bucketed by key on disk via `ops.Bucketing`, a zero-exchange probe);
    * the within-delta survivor is one map-side-combining `min` per key;
    * both joins are equi on the key and scale with |delta|, not
    * |corpus|. */
  def incrementalDedup(corpusKeys: DataFrame, delta: DataFrame,
      idCol: String, keyCol: String): DataFrame = {
    val seen = corpusKeys.select(col(keyCol).as("__graft_seen")).distinct()
    val mins = delta.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("__graft_min_id"))
    delta
      .join(seen, col(keyCol) === col("__graft_seen"), "left")
      .join(mins, Seq(keyCol))
      .withColumn("verdict",
        when(col("__graft_seen").isNotNull, lit("dup_of_corpus"))
          .when(col(idCol) =!= col("__graft_min_id"), lit("dup_in_delta"))
          .otherwise(lit("new")))
      .drop("__graft_seen", "__graft_min_id")
  }

  /** Connected components over an undirected pair graph by min-label
    * propagation: every vertex converges to the smallest id reachable from
    * it — the transitive closure step of near-dedup (a pair graph is not
    * transitive; keeping one survivor per *component* is what production
    * fuzzy-dedup does after LSH).
    *
    * Scale shape: each round is one shuffle join (labels × symmetrized
    * edges) + one min-aggregate, i.e. the standard distributed CC loop
    * (GraphX/GraphFrames run the same shape); rounds are bounded by the
    * component diameter — near-dup graphs are overwhelmingly tiny cliques,
    * so 2–3 rounds in practice, with `maxIter` as the pathological-chain
    * cap. Two properties keep the loop cheap at scale:
    *  - the edge frame (often an expensive upstream pipeline — x15 feeds
    *    the whole LSH + verification flow in here) is eagerly
    *    `localCheckpoint`ed ONCE; every round re-reads stored blocks, it
    *    never re-derives the pair flow;
    *  - the loop runs only over vertices that appear in an edge — isolated
    *    vertices (the overwhelming majority of a near-dup corpus) can
    *    never change label, so they join the result self-labeled in one
    *    final anti-join instead of riding corpus-sized rounds.
    * `localCheckpoint` truncates label lineage each round so plan size
    * stays O(1) in rounds; convergence is decided by an `Observation`
    * metric (count of changed labels) collected inside the same job that
    * eagerly materializes the checkpoint — one action per round, no
    * separate convergence-probe job.
    *
    * @param edges  two-column frame (src id, dst id), one row per pair
    * @param vertices single-column frame of all ids (isolated vertices
    *                 label themselves). The OUTPUT is exactly this set:
    *                 an id appearing only in `edges` relays labels during
    *                 propagation but is not emitted
    * @return (`idCol`, component_id = min reachable id), one row per vertex
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
      idCol: String, maxIter: Int = 20): DataFrame = {
    // pay the upstream edge pipeline exactly once
    val e = edges.toDF("__s", "__d").localCheckpoint(true)
    val sym = e.unionByName(e.select(col("__d").as("__s"), col("__s").as("__d")))
    // only edge endpoints can ever receive a smaller label
    val active = e.select(col("__s").as("__id"))
      .unionByName(e.select(col("__d").as("__id"))).distinct()
    // __chg marks labels that changed LAST round — the propagation
    // frontier (r19; guide §2.3 shuffle fewer bytes): min-propagation is
    // monotone, so a vertex whose label did not change last round already
    // delivered that label to every neighbor the round it DID change —
    // re-sending it can never lower any neighbor's min. Joining the
    // symmetrized edges against the frontier only is therefore
    // label-for-label identical per round (DedupPropertySpec's chain
    // pin still walks multi-round convergence), while the per-round join
    // probe shrinks with the frontier — on a near-dup graph (tiny cliques
    // that settle in round 1) later rounds shuffle almost nothing.
    var labels = active
      .withColumn("__label", col("__id"))
      .withColumn("__chg", lit(true))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val incoming = sym.join(labels.filter(col("__chg")),
          sym("__s") === col("__id"))
        .select(col("__d").as("__id"), col("__label"))
      // ONE action per round: the vertex's own row carries its previous
      // label through the min-aggregate (every __id has exactly one
      // non-null __old), and an Observation counts label changes inside
      // the SAME job that eagerly materializes the checkpoint — no
      // second convergence-probe join/action (per-round fixed action
      // overhead dominated this loop's cost, not data).
      val obs = new org.apache.spark.sql.Observation()
      // __old's null is cast to the LABEL column's own type, not a
      // hardcoded LongType: the API is generic over id types (BINARY md5
      // fingerprints are natural here) and a mismatched null would fail
      // the union's type coercion
      val labelType = labels.schema("__label").dataType
      val prev = labels
      val next = labels
        .select(col("__id"), col("__label"), col("__label").as("__old"))
        .unionByName(incoming.withColumn("__old", lit(null).cast(labelType)))
        .groupBy("__id")
        .agg(min("__label").as("__label"), max("__old").as("__old"))
        .withColumn("__chg", col("__label") =!= col("__old"))
        .observe(obs, sum(when(col("__chg"), 1L).otherwise(0L)).as("changed"))
        .select(col("__id"), col("__label"), col("__chg"))
        .localCheckpoint(true)
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      labels = next
      // free the superseded generation's blocks NOW — leaving maxIter
      // label checkpoints pinned in executor storage until driver GC is
      // the iterative-loop leak GraphFrames' CC also guards against
      prev.unpersist()
      iter += 1
    }
    // the edge checkpoint fed the rounds; the final join below reads only
    // the (checkpointed) labels frame
    e.unpersist()
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents: NOT converged after $maxIter rounds - labels are " +
          "partially propagated (a chain longer than maxIter hops); raise maxIter " +
          "or pre-collapse exact duplicates before fuzzy edges")
    // Output contract: exactly the caller's vertex set, once each —
    // isolated vertices (no incident edge) label themselves, and ids
    // appearing ONLY in `edges` participate in propagation (an edge
    // through them still connects its endpoints) but are NOT emitted.
    // One left-outer join against the dup-graph-sized labels frame
    // (broadcast when small) covers both cases without a corpus shuffle.
    vertices.select(col(idCol).as("__id"))
      .join(labels, Seq("__id"), "left_outer")
      .select(col("__id").as(idCol),
        coalesce(col("__label"), col("__id")).as("component_id"))
  }
}
