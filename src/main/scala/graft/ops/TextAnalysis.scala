package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text analysis for training-data pipelines (SURVEY.md §2.11): token
 * counting, quality scoring, language-ID heuristic, fingerprinting.
 * All pure builtin expressions — whole-stage codegen, no UDFs.
 */
object TextAnalysis {

  /** Whitespace tokens (trimmed). */
  def tokens(text: Column): Column = split(trim(text), " +")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword-piece estimate: word-chunks + digits + punctuation
    * runs, the usual pre-tokenizer shape. */
  def bpeishTokenCount(text: Column): Column =
    size(filter(split(text, """(?=[^\p{L}\p{N}])|(?<=[^\p{L}\p{N}])"""), t => length(t) > 0))

  val defaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "for", "on", "with",
    "that", "as", "at", "by", "it", "from", "or", "be", "are")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / size(toks)
  }

  /** Fraction of non-space chars that are punctuation. */
  def punctRatio(text: Column): Column = {
    val nospace = regexp_replace(text, " ", "")
    (length(nospace) - length(regexp_replace(nospace, """[\p{Punct}]""", ""))).cast("double") /
      greatest(length(nospace), lit(1))
  }

  /** Composite quality score in [0,1]: length band + stopword presence −
    * punctuation noise. Deterministic arithmetic (SQL-oracle-able). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    val punct = punctRatio(text)
    (lenScore * 0.4 + stopScore * 0.4 + (lit(1.0) - punct) * 0.2)
  }

  /** Per-language stopword marker sets for the lang-ID heuristic. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "un", "une", "dans", "pour"),
    "es" -> Seq("el", "la", "los", "de", "y", "es", "un", "una", "en", "para"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "in", "für", "mit"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "他", "这", "中"))

  /**
   * Language-ID: argmax over marker-hit counts, 'und' when nothing hits.
   * A fold over a literal map — no UDF, executes in one projection.
   */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(size(filter(toks, t => t.isin(markers: _*))).as("hits"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** 64-bit content fingerprint of normalized text (case/space folded). */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), """\s+""", " "))

  /** Stopword set for the Gopher "has at least 2 of these" rule (Rae et
    * al. 2021, table A1's required-word list). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * Gopher quality-rule battery (Rae et al. 2021, "Scaling Language
   * Models: ..." §A1.1 — the MassiveWeb filter set): per-document
   * INTEGER components plus the composite verdict. Everything is exact
   * integer arithmetic — mean-word-length and ratio thresholds are
   * applied as cross-multiplied integer comparisons (3 <= mean <= 10
   * becomes 3*wc <= sum_len <= 10*wc), so the oracle replays every
   * component AND the verdict bit-exactly with no float anywhere.
   *
   * Components: `n_words`, `sum_word_len`, `n_symbol_words` (tokens
   * carrying # or the ... / … ellipsis), `n_alpha_words` (tokens with at
   * least one letter), `n_stop_hits` (DISTINCT Gopher stopwords
   * present), `n_lines`, `n_bullet_lines`, `n_ellipsis_lines`.
   * Verdict (`passes`): 50 <= n_words <= 100000, mean word length in
   * [3, 10], symbol-word ratio <= 0.1, bullet lines <= 90%, ellipsis
   * lines <= 30%, >= 80% words alphabetic, >= 2 stopwords present.
   * One projection per row — whole-stage codegen, no shuffle, no UDF.
   */
  def gopherStats(text: Column): Column = {
    val toks = tokens(text)
    val nWords = size(toks).cast("long")
    val sumLen = coalesce(aggregate(toks, lit(0L), (a, t) => a + length(t)), lit(0L))
    val nSymbol = size(filter(toks, t =>
      t.contains("#") || t.contains("...") || t.contains("…"))).cast("long")
    val nAlpha = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val nStop = size(filter(
      typedlit(gopherStopwords), w => array_contains(toks, w))).cast("long")
    val lines = split(text, "\n")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l =>
      trim(l).startsWith("-") || trim(l).startsWith("*") ||
        trim(l).startsWith("•"))).cast("long")
    val nEllipsis = size(filter(lines, l =>
      trim(l).endsWith("...") || trim(l).endsWith("…"))).cast("long")
    val passes = (nWords >= 50L) && (nWords <= 100000L) &&
      (sumLen >= nWords * 3L) && (sumLen <= nWords * 10L) &&
      (nSymbol * 10L <= nWords) &&
      (nBullet * 10L <= nLines * 9L) &&
      (nEllipsis * 10L <= nLines * 3L) &&
      (nAlpha * 5L >= nWords * 4L) &&
      (nStop >= 2L)
    struct(nWords.as("n_words"), sumLen.as("sum_word_len"),
      nSymbol.as("n_symbol_words"), nAlpha.as("n_alpha_words"),
      nStop.as("n_stop_hits"), nLines.as("n_lines"),
      nBullet.as("n_bullet_lines"), nEllipsis.as("n_ellipsis_lines"),
      passes.as("passes"))
  }

  /**
   * Persisted BM25 index (the text analog of [[Similarity]]'s persisted
   * IVF index — tokenize ONCE, probe forever): ONE geo table,
   * `$indexRoot/postings`, partitioned by bucket(`buckets`, term) plus
   * per-file doc_id stats (integral ids), holding the posting rows
   * (term, doc_id, tf, dl), one summary row ([[DocRowTerm]], doc_id, 0,
   * dl) per indexed doc, and the corpus stats (n_docs, sum_dl) as its own
   * manifest props, committed atomically with every mutation.
   * [[bm25Search]] answers any bag-of-words query from the query terms'
   * bucket files alone: the pruned rows ARE the complete posting lists,
   * so per-term df falls out of them and no global pass ever reruns.
   */
  /** The stored rows of a batch, from ONE tokenize pass shared by build
    * and every mutation: postings plus one summary row per doc that has
    * postings. The summary rides the same explode as the reserved term
    * (tf counts real terms only): no second pass, no distinct. */
  private def postingsOf(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"), tokens(text).as("__toks"))
      .withColumn("dl", size(col("__toks")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(when(col("dl") > 0,
        concat(col("__toks"), array(lit(DocRowTerm))))).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(when(col("term") =!= DocRowTerm, lit(1))).as("tf"))
      .select("term", "doc_id", "tf", "dl")

  /** Reserved term of the per-doc summary rows: the remove/upsert
    * pricing scan prunes to its bucket files (~n_docs rows, not ~Σdl).
    * The embedded SPACE cannot collide — [[tokens]] splits on spaces —
    * and [[bm25Search]] refuses it as a query term. */
  private[graft] val DocRowTerm = " doc"

  /** (count, Σdl) of a per-doc frame — exact longs, so stats merge
    * without drift and an empty corpus is (0, 0), never null. */
  private def countAndSum(docs: DataFrame): (Long, Long) = {
    val r = docs.agg(count(lit(1)).cast("long"), coalesce(sum(col("dl")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** (n_docs, sum_dl) of a [[postingsOf]] batch: its summary rows. */
  private def batchStats(posts: DataFrame): (Long, Long) =
    countAndSum(posts.where(col("term") === DocRowTerm))

  /** (n_docs, sum_dl) of any postings frame, summary rows or not (a raw
    * table append carries none) — the rare-path recompute and heal. */
  private def docStats(postings: DataFrame): (Long, Long) =
    countAndSum(postings.groupBy("doc_id").agg(max(col("dl")).as("dl")))

  /** Corpus stats as the postings table's own props, riding the SAME
    * commit as every mutation (no crash window); `postings_version`
    * names the snapshot whose CONTENT they cover, so out-of-band table
    * mutations heal read-only through [[statsAsOfCurrent]]. */
  private val NDocsProp = "graft.bm25.n_docs"
  private val SumDlProp = "graft.bm25.sum_dl"
  private val VersionProp = "graft.bm25.postings_version"
  private def statsProps(n: Long, s: Long, v: Int): Map[String, String] =
    Map(NDocsProp -> n.toString, SumDlProp -> s.toString, VersionProp -> v.toString)

  def buildTextIndex(spark: org.apache.spark.sql.SparkSession, indexRoot: String,
                     df: DataFrame, id: Column, text: Column,
                     buckets: Int = 64): Unit = {
    import graft.tables.{GeoPartition, GeoTable}
    // ONE tokenize pass, ONE commit: the rows persist briefly so the
    // stats and the write read one computation; the stats ride the
    // CREATE commit (VersionProp = 0 names it)
    val posts = postingsOf(df, id, text).persist()
    try {
      val (n, s) = batchStats(posts)
      // hash layout: the layout column is already a hash bucket, and the
      // range layout's sampler would add a pass over the batch per write
      // (see GeoPartition.LayoutModeProp); probes prune identically
      GeoTable.create(spark, s"$indexRoot/postings", posts,
        geomCol = None,
        partitions = GeoPartition.PTransform("bucket", buckets, "term") +:
          GeoPartition.statsFor(
            org.apache.spark.sql.types.StructType(Seq(posts.schema("doc_id"))), Seq.empty),
        props = statsProps(n, s, 0) + (GeoPartition.LayoutModeProp -> "hash"),
        allowStatsProps = true)
    } finally posts.unpersist(blocking = false)
  }

  /** The one mutation skeleton behind append, micro-batch append, upsert
    * and remove: persist the batch, take its stats off its summary rows,
    * read the stats base and expected version from ONE snapshot, price
    * the `removed` ids (evaluated after the persist), `commit` with the
    * advanced stats, reconcile, unpersist. With `skipEmpty`, a batch of
    * no documents commits nothing and returns false. */
  private def mutate(spark: org.apache.spark.sql.SparkSession, indexRoot: String,
                     batch: Option[DataFrame], removed: => Option[DataFrame] = None,
                     skipEmpty: Boolean = false)
                    (commit: Map[String, String] => Unit): Boolean = {
    val root = s"$indexRoot/postings"
    batch.foreach(_.persist())
    try {
      val (dn, ds) = batch.fold((0L, 0L))(batchStats)
      if (skipEmpty && dn == 0L) return false
      // a foreign commit after this read pushes ours past vBase+1,
      // which reconcile detects
      val (n0, s0, vBase) = statsAsOfCurrent(spark, indexRoot)
      val (rn, rs) = removed.fold((0L, 0L))(priceRemoved(spark, root, vBase, _))
      commit(statsProps(n0 - rn + dn, s0 - rs + ds, vBase + 1))
      reconcileIfInterleaved(spark, root, vBase + 1)
      true
    } finally batch.foreach(_.unpersist())
  }

  /**
   * Incrementally ADD documents (batch ids must be new — the append-only
   * ingest contract) to a [[buildTextIndex]] index, the text analog of
   * `Similarity.appendToIvfIndex`: one tokenize pass writes the batch
   * bucket-clustered, and the advanced stats ride the SAME manifest
   * commit. tf/df/N/sum_dl are exact integers, so a probe after any
   * number of appends ranks identically to [[bm25TopK]] over the union.
   * Index mutations (append/remove/upsert) assume ONE writer at a time;
   * an interleaved outcome is still repaired (see reconcileIfInterleaved).
   */
  def appendToTextIndex(spark: org.apache.spark.sql.SparkSession, indexRoot: String,
                        df: DataFrame, id: Column, text: Column): Unit = {
    val posts = postingsOf(df, id, text)
    mutate(spark, indexRoot, Some(posts)) { props =>
      graft.tables.GeoTable.append(spark, s"$indexRoot/postings", posts, None, props): Unit
    }: Unit
  }

  /**
   * Exactly-once MICRO-BATCH ingest into a text index (the streaming-
   * corpus shape): the new postings, the advanced stats, AND the
   * `(sinkId, batchId)` watermark all ride ONE manifest commit, so a
   * crash-replayed micro-batch is detected by the watermark and skipped
   * — never double-indexed, and stats never double-count. Returns true
   * when the batch committed, false for a replayed or empty batch.
   */
  def appendToTextIndexBatch(spark: org.apache.spark.sql.SparkSession,
                             indexRoot: String, df: DataFrame,
                             id: Column, text: Column,
                             sinkId: String, batchId: Long): Boolean = {
    val root = s"$indexRoot/postings"
    if (graft.tables.GeoTable.lastStreamBatch(spark, root, sinkId).exists(_ >= batchId))
      return false
    val posts = postingsOf(df, id, text)
    mutate(spark, indexRoot, Some(posts), skipEmpty = true) { props =>
      graft.tables.GeoTable.append(spark, root, posts, Some(sinkId -> batchId), props): Unit
    }
  }

  /** Streaming BM25 index ingest as a `foreachBatch` sink: each
    * micro-batch lands through [[appendToTextIndexBatch]] — postings,
    * stats, and the epoch watermark in one atomic commit per batch
    * (the exactly-once contract of the geo table sinks; see
    * `EventStreams.geoTableSink` for the sink-identity rules). Probes
    * stay read-only and see each batch whole or not at all. */
  def textIndexSink(stream: DataFrame, indexRoot: String, id: Column, text: Column,
                    checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendToTextIndexBatch(batch.sparkSession, indexRoot, batch, id, text,
          graft.streaming.EventStreams.sinkIdFor(batch.sparkSession, checkpointDir),
          batchId): Unit
      }

  /** Detect-and-repair for the one hole the serial-writer contract
    * leaves: a FOREIGN commit landing between a mutation's stats read and
    * its commit makes the committed stats base stale, and no covered-
    * version claim can make the changelog heal exact for it. In the
    * serial case version `claimed` IS the mutation's commit, so its props
    * name `claimed`; on mismatch, recompute the truth from the live
    * postings and commit it, with bounded retries against a racing writer. */
  private[graft] def reconcileIfInterleaved(spark: org.apache.spark.sql.SparkSession,
                                            root: String, claimed: Int): Unit = {
    // claimed > current means the mutation was a no-op (nothing
    // committed) — the stored props still cover exactly what they claim
    if (graft.tables.GeoManifest.read(spark, root).version < claimed) return
    def namesItself(v: Int): Boolean =
      graft.tables.GeoManifest.readVersion(spark, root, v).props
        .get(VersionProp).contains(v.toString)
    if (namesItself(claimed)) return
    var attempts = 0
    while (attempts < 3) {
      attempts += 1
      val (n, s) = docStats(graft.tables.GeoTable.read(spark, root))
      val v = graft.tables.GeoManifest.read(spark, root).version
      try {
        graft.tables.GeoTable.setStatsProperties(spark, root, statsProps(n, s, v + 1))
        if (namesItself(v + 1)) return
      } catch { case _: java.util.ConcurrentModificationException => () } // retry
    }
    throw new IllegalStateException(
      s"persistent concurrent mutation of the text index at $root — index " +
        "mutators are single-writer (see scaladoc); stop the other writer " +
        "and re-run (stats were recomputed but kept being overtaken)")
  }

  /**
   * REMOVE documents from a [[buildTextIndex]] index (dedup or
   * decontamination verdicts, takedowns). O(keys), never a rebuild: the
   * ids land as one equality-delete sidecar on the postings table (a
   * metadata commit), probes merge it so the docs drop out of tf AND df
   * at once, and the stats adjusted by [[priceRemoved]] ride the SAME
   * commit. Ids absent from the index are a no-op; a delete past the
   * live-sidecar cap folds in a content-preserving follow-up commit.
   */
  def removeFromTextIndex(spark: org.apache.spark.sql.SparkSession,
                          indexRoot: String, ids: DataFrame): Unit = {
    // pin: the pricing scan and the filed delete keys must see one batch
    val keyDf = ids.toDF("doc_id").localCheckpoint()
    mutate(spark, indexRoot, None, removed = Some(keyDf)) { props =>
      graft.tables.GeoTable.deleteByKey(spark, s"$indexRoot/postings", Seq("doc_id"),
        keyDf, props, keysPinned = true): Unit
    }: Unit
  }

  /** The removed docs' exact (count, Σdl): ONE aggregation over the keys
    * left-joined to the snapshot's pruned summary scan (sidecars merge, so
    * an already-removed doc prices zero). Keys with no summary row are
    * dead (never indexed, removed, or new in an upsert) or came in by a
    * RAW table append; the same aggregation yields their doc_id range, and
    * one scan of that range (per-file doc_id stats skip the files outside
    * it) prices the docs among them that hold postings but no summary. */
  private def priceRemoved(spark: org.apache.spark.sql.SparkSession,
                           root: String, vBase: Int,
                           keys: DataFrame): (Long, Long) = {
    import graft.tables.GeoTable
    val summaries = GeoTable.scanAt(spark, root, vBase, col("term") === lit(DocRowTerm))
      .select("doc_id", "dl")
    val kd = keys.select("doc_id").distinct()
    val uncov = when(col("dl").isNull, col("doc_id"))
    val r = kd.join(summaries, Seq("doc_id"), "left")
      .agg(count(col("dl")).cast("long"), coalesce(sum(col("dl")), lit(0L)),
        min(uncov), max(uncov)).head()
    val (rn, rs) = (r.getLong(0), r.getLong(1))
    if (r.isNullAt(2)) return (rn, rs)
    // a covered key inside the range brings its summary row along: drop it
    val (mn, ms) = countAndSum(
      GeoTable.scanAt(spark, root, vBase, col("doc_id").between(r.get(2), r.get(3)))
        .join(kd, Seq("doc_id"), "left_semi")
        .groupBy("doc_id")
        .agg(max(col("dl")).as("dl"), max(col("term") === DocRowTerm).as("covered"))
        .where(!col("covered")))
    (rn + mn, rs + ms)
  }

  /** UPSERT documents (the CDC-replacement verb): indexed ids get their
    * batch text, new ids are added, in ONE keyed-upsert commit — the
    * equality delete of the old rows, the fresh rows (which out-sequence
    * it) and the stats delta land together, so a crash leaves all of the
    * batch or none. A doc with ZERO tokens has no rows and so no delete
    * key: spell that removal [[removeFromTextIndex]]. The batch must
    * carry AT MOST ONE text per doc_id; net a CDC burst per key first. */
  def upsertTextIndex(spark: org.apache.spark.sql.SparkSession, indexRoot: String,
                      df: DataFrame, id: Column, text: Column): Unit = {
    val posts = postingsOf(df, id, text)
    mutate(spark, indexRoot, Some(posts),
        removed = Some(posts.where(col("term") === DocRowTerm).select("doc_id"))) { props =>
      graft.tables.GeoTable.upsertByKey(spark, s"$indexRoot/postings", Seq("doc_id"), posts,
        streamCommit = None, propsDelta = props): Unit
    }: Unit
  }

  /** Commit ops that rewrite files without changing the table's rows
    * (compaction, sidecar folds, position-delete rewrites): stats that
    * cover such a commit's parent cover the commit too. */
  private val ContentPreservingOps = Set("optimize", "fold", "rewrite_deletes")

  /** Stats valid for the postings table's CURRENT version: the stored
    * props, which lag only after out-of-band commits (healed here, read-
    * only). Content-preserving commits above the covered version are
    * skipped by walking parent links back from the current one; a
    * content change is replayed as NET inserted − NET deleted docs
    * ([[graft.tables.GeoChangelog.netChanges]]: the row-exact diff, so a
    * sidecar fold inside the window cannot double-count). When that
    * would need an expired manifest, the stats are recomputed from the
    * live postings, once per snapshot: an expired version is never read. */
  private def statsAsOfCurrent(spark: org.apache.spark.sql.SparkSession,
                               indexRoot: String): (Long, Long, Int) = {
    import graft.tables.{GeoManifest, GeoTable}
    val root = s"$indexRoot/postings"
    val m = GeoManifest.read(spark, root)
    val cur = m.version
    val (n0, s0, v0) =
      (m.props.get(NDocsProp), m.props.get(SumDlProp), m.props.get(VersionProp)) match {
        case (Some(n), Some(s), Some(v)) => (n.toLong, s.toLong, v.toInt)
        case (None, None, None) =>
          throw new IllegalArgumentException(
            s"$indexRoot is not a complete text index (no graft.bm25.* stats " +
              "props) — the build crashed before its commit; rebuild")
        case partial =>
          // writers commit the three keys together: a partial triple is
          // a hand-edit, and trusting it would pin wrong stats for good
          throw new IllegalStateException(
            s"$root carries an incomplete graft.bm25.* stats triple " +
              s"($partial) — never written by this library's index verbs; " +
              "rebuild the index (buildTextIndex) or restore a snapshot " +
              "whose props are intact")
      }
    // clamp: the returned version is the callers' expected commit base
    if (v0 >= cur) return (n0, s0, cur)
    // once per snapshot: probes never write, so until the next mutation
    // commits fresh props every probe of this snapshot would repeat it
    def recomputed = Similarity.cachedMeta(spark, root, "bm25-stats") { v =>
      val (n, s) = docStats(GeoTable.readAt(spark, root, v))
      (n, s, v)
    }
    var top = cur
    var (parent, op) = (m.parent, m.op)
    while (top > v0 && op.exists(ContentPreservingOps)) {
      top = parent
      if (top > v0) {
        if (!GeoManifest.hasVersion(spark, root, top)) return recomputed
        val (_, p, o) = GeoManifest.headerOf(spark, root, top)
        parent = p; op = o
      }
    }
    if (top == v0) return (n0, s0, cur)
    if (top < v0 || !GeoManifest.hasVersion(spark, root, v0)) return recomputed
    // commits above `top` preserve content: (v0, top] is the whole change
    val changes = graft.tables.GeoChangelog.netChanges(spark, root, v0, top)
    val (dn, ds) = docStats(changes.where(col("_change_type") === "insert"))
    val (rn, rs) = docStats(changes.where(col("_change_type") === "delete"))
    (n0 + dn - rn, s0 + ds - rs, cur)
  }

  /** Probe a [[buildTextIndex]] index: identical scores to [[bm25TopK]]
    * (same +1-idf Okapi formulation), but the scan reads only the query
    * terms' bucket files. Corpus stats resolve through
    * [[statsAsOfCurrent]] (driver-side literals) — props left stale by
    * an out-of-band commit or a compaction heal transparently, and
    * probes never write. */
  def bm25Search(spark: org.apache.spark.sql.SparkSession, indexRoot: String,
                 query: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25Search needs at least one query term")
    // no tokenized term can contain a space ([[tokens]] splits on them),
    // so the reserved summary term is unreachable from real text — refuse
    // it as a query term rather than let it rank summary rows
    require(!query.contains(DocRowTerm),
      s"'$DocRowTerm' is the reserved per-doc summary term, not a query term")
    import graft.tables.GeoTable
    val c = col _
    val (n, sumDl, _) = statsAsOfCurrent(spark, indexRoot)
    val avgdl = sumDl.toDouble / math.max(n, 1L)
    // scan() file-prunes on the IN predicate AND applies it row-wise
    val posts = GeoTable.scan(spark, s"$indexRoot/postings",
      c("term").isin(query: _*))
    val dfreq = posts.groupBy("term").agg(count(lit(1)).as("df"))
    posts.join(broadcast(dfreq), "term")
      .withColumn("__w",
        log(lit(1.0) + (lit(n) - c("df") + 0.5) / (c("df") + 0.5)) *
          c("tf") * (k1 + 1.0) /
          (c("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * c("dl") / lit(avgdl))))
      .groupBy("doc_id").agg(sum(c("__w")).as("score"))
      .orderBy(round(c("score"), 6).desc, c("doc_id").asc)
      .limit(k)
  }

  /**
   * Okapi BM25 top-k: rank every document against a bag-of-words query
   * (Robertson et al., TREC-3; the k1/b formulation with the +1 idf that
   * never goes negative). Returns the k best (doc_id, score), ordered by
   * the QUANTIZED score (round to 1e-6) desc then doc_id — docs with
   * identical tf vectors and doc length tie exactly in real arithmetic
   * but land ulps apart under any engine's parallel-sum addend order, so
   * the selection and order rule must not rest on those ulps; the
   * returned score column itself stays raw.
   *
   * Distributed shape: tokenize → explode → FILTER TO QUERY TERMS before
   * any shuffle (the aggregations see only matching postings, never a
   * full inverted index); tf per (doc, term) and df per term are each one
   * aggregation over that filtered frame; corpus N and avgdl ride a
   * broadcast single-row aggregate (no driver action, no collect). The
   * final top-k is orderBy+limit — Spark's TakeOrderedAndProject, a
   * per-partition k-heap, no global sort.
   */
  def bm25TopK(df: DataFrame, id: Column, text: Column, query: Seq[String],
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25TopK needs at least one query term")
    val c = col _
    val docs = df.select(id.as("doc_id"), size(tokens(text)).as("dl"),
      tokens(text).as("__toks"))
    val stats = docs.agg(count(lit(1)).as("n"), avg(c("dl")).as("avgdl"))
    val posted = docs.select(c("doc_id"), c("dl"), explode(c("__toks")).as("term"))
      .where(c("term").isin(query: _*))
    val tf = posted.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max(c("dl")).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("__w",
        log(lit(1.0) + (c("n") - c("df") + 0.5) / (c("df") + 0.5)) *
          c("tf") * (k1 + 1.0) /
          (c("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * c("dl") / c("avgdl"))))
      .groupBy("doc_id").agg(sum(c("__w")).as("score"))
      .orderBy(round(c("score"), 6).desc, c("doc_id").asc)
      .limit(k)
  }
}
