package graft

import graft.functions.Fns
import graft.merge.{ColumnPolicy, MergeConfig, MergeInto}
import graft.operators.{Ann, Dedup, Edges, Multimodal, Route}
import graft.table.LakeTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: one entry per implemented operator (SURVEY.md §2 and
  * the training-data-pipeline surface), each with a DuckDB oracle where the
  * semantics are ANSI-SQL-expressible. Column names/aliases are kept
  * identical between the Spark plan and the oracle SQL (the driver's
  * compare sorts columns by name and hashes values).
  */
object SparkEntry {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** Flagship query on the dataset dir named by `SPARK_GRAFT_SF_DIR`
    * (e.g. the sf0.001 tables); the smoke check expects rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("cdc_final_state")(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SparkEntry.entry: set SPARK_GRAFT_SF_DIR to a dataset dir")))

  // ---- the events table viewed as a CDC change feed --------------------
  // lsn = event_id (monotonic), key = user, op: 'error' events are deletes,
  // everything else upserts; tokens are a deterministic 3-int payload.
  private[graft] def cdcChanges(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(t(dir, "events"))
    ev.select(
      ev("event_id").as("lsn"),
      concat(lit("u"), ev("user_id").cast("string")).as("doc_id"),
      when(ev("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      when(ev("event_type") === "error", lit(null)).otherwise(array(
        get_json_object(ev("props"), "$.k").cast("int"),
        floor(ev("value") * 100).cast("int"),
        (ev("event_id") % 1000).cast("int"))).as("tokens"),
      when(ev("event_type") === "error", lit(null)).otherwise(lit(3)).cast("int").as("n_tok"),
      ev("event_type").as("source"))
  }

  private val cdcChangesSql =
    """SELECT event_id AS lsn,
      |       'u' || CAST(user_id AS VARCHAR) AS doc_id,
      |       CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |       CASE WHEN event_type = 'error' THEN NULL
      |            ELSE [CAST(json_extract_string(props, '$.k') AS INTEGER),
      |                  CAST(floor(value * 100) AS INTEGER),
      |                  CAST(event_id % 1000 AS INTEGER)] END AS tokens,
      |       CASE WHEN event_type = 'error' THEN NULL ELSE 3 END AS n_tok,
      |       event_type AS source
      |FROM events""".stripMargin

  /** The CDC LWW final-state oracle — ONE definition for every query
    * whose result must equal "replay the whole feed, keep the max-LSN
    * winner per key, drop deletes" regardless of path (batch rewrite,
    * trickle delta, streaming tail, HTTP ingress, compaction, rebucket):
    * a future change to the LWW tie-break semantics lands in one place
    * instead of silently weakening one of six gates.
    */
  private lazy val cdcLwwFinalSql: String =
    s"""WITH changes AS ($cdcChangesSql),
       |latest AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
       |  FROM changes)
       |SELECT doc_id, ${stringifyIntArraySql("tokens")} AS tokens_csv,
       |       n_tok, source, lsn
       |FROM latest WHERE rn = 1 AND op <> 'D'
       |ORDER BY doc_id""".stripMargin

  /** Exhaustive 3-gram Jaccard pairs at threshold 0.2 — the oracle for
    * `dedup_ngram_jaccard` (the exact operator) AND for
    * `dedup_minhash_verified` (LSH candidates + exact verify, which must
    * reproduce the exhaustive answer when banding loses no pair).
    */
  private lazy val ngramJaccardSql: String = {
    val ws = wordsSqlOf("text")
    s"""WITH w AS (SELECT doc_id, $ws AS ws FROM documents),
       |sh AS (SELECT doc_id,
       |         list_distinct([array_to_string(ws[i:i+2], ' ')
       |                        for i in range(1, len(ws) - 1)]) AS shs
       |       FROM w WHERE len(ws) >= 3),
       |e AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS s FROM sh)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       round(count(*)::DOUBLE / (a.n_sh + b.n_sh - count(*)), 4) AS jaccard
       |FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
       |HAVING round(count(*)::DOUBLE / (a.n_sh + b.n_sh - count(*)), 4) >= 0.2
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Normalized word list (identical Spark/DuckDB expression pair). */
  private def wordsSqlOf(textExpr: String) =
    s"string_split(trim(regexp_replace(lower($textExpr), '\\s+', ' ', 'g')), ' ')"

  /** int-array -> csv string, null elements as '' (driver-hashable scalar;
    * identical semantics to the DuckDB side's list_transform+coalesce).
    */
  private def stringifyIntArray(c: Column): Column =
    array_join(transform(c, x => coalesce(x.cast("string"), lit(""))), ",")

  private val stringifyIntArraySql: String => String = e =>
    s"array_to_string(list_transform($e, x -> coalesce(CAST(x AS VARCHAR), '')), ',')"

  private def deleteRecursively(f: java.io.File): Unit =
    graft.util.IoUtil.deleteRecursively(f)

  /** Scratch root for queries that materialize a LakeTable: tmpfs when
    * available (a CDC query's table I/O should measure the engine, not
    * the single local disk), recreated per run (bounded).
    */
  private def scratchDir(prefix: String, dir: String): String = {
    val base = Some("/dev/shm").filter(d => new java.io.File(d).canWrite)
      .getOrElse(sys.props("java.io.tmpdir"))
    val root = s"$base/$prefix-${math.abs(dir.hashCode)}"
    deleteRecursively(new java.io.File(root))
    root
  }

  /** The synthetic corpus carries no real-world entities, so the entity
    * queries layer a deterministic entity-bearing suffix (email, URL,
    * phone, UK postcode derived from doc_id) over the text — identically
    * in Spark and the DuckDB oracle — and the extraction regexes (the
    * reference's documented entity set, flow.xml:1140-1160) run over that.
    */
  private def entityText(d: DataFrame): Column =
    concat(d("text"),
      lit(" contact user"), (d("doc_id") % 50).cast("string"), lit("@example.org"),
      lit(" see https://ex.org/d/"), d("doc_id").cast("string"),
      when(d("doc_id") % 3 === 0,
        concat(lit(" call +44 7123 4567"), lpad((d("doc_id") % 100).cast("string"), 2, "0")))
        .otherwise(lit("")),
      when(d("doc_id") % 5 === 0,
        concat(lit(" at EC"), (d("doc_id") % 9).cast("string"), lit("A "),
          (d("doc_id") % 9).cast("string"), lit("BB")))
        .otherwise(lit("")))

  /** Exact cosine top-k in DuckDB — the oracle for `ann_bruteforce_topk`
    * AND for `ann_ivf_exhaustive` (IVF with nprobe = nlist probes every
    * inverted list, degenerating to exhaustive search; IvfSpec proves the
    * identity, this SQL makes it driver-visible).
    */
  private val bruteForceAnnSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id AS nbr_id, embedding AS cv FROM embeddings),
      |p AS (
      |  SELECT query_id, nbr_id,
      |    list_sum(list_transform(range(1, len(qv) + 1),
      |      i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) AS dot,
      |    sqrt(list_sum(list_transform(range(1, len(qv) + 1),
      |      i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) AS qn,
      |    sqrt(list_sum(list_transform(range(1, len(cv) + 1),
      |      i -> cv[i]::DOUBLE * cv[i]::DOUBLE))) AS cn
      |  FROM q CROSS JOIN c WHERE query_id <> nbr_id),
      |ranked AS (
      |  SELECT query_id, nbr_id, dot / (qn * cn) AS sim,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY dot / (qn * cn) DESC, nbr_id ASC) AS rank
      |  FROM p)
      |SELECT query_id, nbr_id, round(sim, 4) AS sim, CAST(rank AS INTEGER) AS rank
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  private val entityTextSql: String =
    """text || ' contact user' || CAST(doc_id % 50 AS VARCHAR) || '@example.org'
      |  || ' see https://ex.org/d/' || CAST(doc_id AS VARCHAR)
      |  || CASE WHEN doc_id % 3 = 0
      |       THEN ' call +44 7123 4567' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
      |       ELSE '' END
      |  || CASE WHEN doc_id % 5 = 0
      |       THEN ' at EC' || CAST(doc_id % 9 AS VARCHAR) || 'A '
      |            || CAST(doc_id % 9 AS VARCHAR) || 'BB'
      |       ELSE '' END"""
      // flattened to ONE line: this fragment interpolates into an outer
      // stripMargin string, which would otherwise re-strip the leading
      // `|` of continuation-line `||` operators
      .stripMargin.linesIterator.map(_.trim).mkString(" ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ================= CDC / MERGE engine =================

    // Full engine end-to-end: events-as-changes replayed in 4 interleaved
    // micro-batches (lsn % 4 — deliberately maximal cross-batch disorder)
    // through MergeInto into a fresh LakeTable; final surviving state.
    // The tokens array is emitted stringified (tokens_csv) because the
    // driver harness hashes scalar columns; byte-equal raw arrays are
    // verified in the sbt replay suites.
    // The dedupe is the plain row_number window: Spark 4's partial
    // WindowGroupLimit already reduces a hot key map-side before the
    // exchange (PLANS.md). cdc_dedupe_lww gates the window on its own and
    // CdcReplaySpec's hot-key test checks it on every merge plan shape.
    "cdc_final_state" -> ((s, dir) => {
      val table = LakeTable(scratchDir("graft-cdc-q", dir))
      val changes = cdcChanges(s, dir).persist()
      try {
        (0L until 4L).foreach { b =>
          MergeInto.apply(s, table, changes.filter(col("lsn") % 4 === b),
            "verify", b, MergeConfig(numBuckets = 8))
        }
        table.read(s)
          .select(col("doc_id"), stringifyIntArray(col("tokens")).as("tokens_csv"),
            col("n_tok"), col("source"), col("lsn"))
          .orderBy("doc_id")
      } finally changes.unpersist()
    }),

    // The SAME final state through the merge-on-read TRICKLE path: after
    // a bootstrap batch, 15 small batches APPEND delta files (no target
    // read, no join — write O(batch), the CDC trickle shape at 100 TB),
    // half the buckets are then compaction-folded, and the final read
    // resolves mixed base+delta state — all against the batch oracle.
    "cdc_trickle_delta" -> ((s, dir) => {
      val table = LakeTable(scratchDir("graft-cdc-trickle", dir))
      val changes = cdcChanges(s, dir).persist()
      try {
        (0L until 16L).foreach { b =>
          MergeInto.apply(s, table, changes.filter(col("lsn") % 16 === b),
            "trickle", b, MergeConfig(numBuckets = 8,
              deltaAppendThreshold = 10000000L))
        }
        graft.table.Maintenance.compact(s, table, buckets = Some(Set(0, 1, 2, 3)))
        table.read(s)
          .select(col("doc_id"), stringifyIntArray(col("tokens")).as("tokens_csv"),
            col("n_tok"), col("source"), col("lsn"))
          .orderBy("doc_id")
      } finally changes.unpersist()
    }),

    // The SAME final state produced through the STREAMING tail: the feed
    // written as LSN-partitioned files, tailed by CdcStream (AvailableNow,
    // maxFilesPerTrigger admission -> several micro-batches, foreachBatch
    // MERGE, checkpoint + exactly-once ledger), then the table read back.
    // Oracle = cdc_final_state's SQL — the driver gate now covers the
    // streaming layer it previously could not see.
    "cdc_stream_final" -> ((s, dir) => {
      val root = scratchDir("graft-cdc-stream", dir)
      val changes = cdcChanges(s, dir)
      // coalesce, not repartition(4, seg): one task writes the 4 segment
      // dirs (1 file per seg either way) without a keyed exchange — the
      // tailed feed layout and every downstream result are identical
      changes.withColumn("seg", pmod(col("lsn"), lit(4L)))
        .coalesce(1)
        .write.partitionBy("seg").mode("overwrite").parquet(s"$root/feed")
      val cfg = graft.stream.StreamConfig(
        feedDir = s"$root/feed", tableDir = s"$root/table",
        checkpointDir = s"$root/cp", checkpointId = "stream-verify",
        maxFilesPerTrigger = 1,
        merge = MergeConfig(numBuckets = 8))
      graft.stream.CdcStream.runToCompletion(s, cfg)
        .select(col("doc_id"), stringifyIntArray(col("tokens")).as("tokens_csv"),
          col("n_tok"), col("source"), col("lsn"))
        .orderBy("doc_id")
    }),

    // The SAME final state through the HTTP INGRESS EDGE: the feed POSTed
    // as JSON lines to a live HttpFeedServer (the reference flow's
    // HandleHttpRequest/Response shape) in 4 chunks, each force-flushed to
    // an LSN-ordered feed segment, then tailed by CdcStream exactly like a
    // file drop — receiver, admission, MERGE kernel, and ledger all under
    // the one batch oracle. The driver-side collect emulates the EXTERNAL
    // HTTP producer (inherently outside the engine) and is bounded by the
    // sf feed size; batching differs from cdc_final_state's lsn%4
    // interleave, which the LWW merge must not care about.
    "cdc_http_final" -> ((s, dir) => {
      val root = scratchDir("graft-cdc-http", dir)
      val changes = cdcChanges(s, dir)
      val lines = changes.orderBy("lsn").toJSON.collect()
      val srv = graft.sources.HttpFeedServer.start(
        s, s"$root/feed", changes.schema, flushEvery = Int.MaxValue)
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        def post(path: String, body: String): Unit = {
          val resp = client.send(
            java.net.http.HttpRequest.newBuilder(
              java.net.URI.create(s"http://127.0.0.1:${srv.port}$path"))
              .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          require(resp.statusCode() / 100 == 2,
            s"http ingress $path -> ${resp.statusCode()}: ${resp.body()}")
        }
        val chunk = (lines.length + 3) / 4
        lines.grouped(chunk.max(1)).foreach { part =>
          post("/events", part.mkString("\n"))
          post("/flush", "")
        }
      } finally srv.stop()
      graft.stream.CdcStream.runToCompletion(s, graft.stream.StreamConfig(
        feedDir = s"$root/feed", tableDir = s"$root/table",
        checkpointDir = s"$root/cp", checkpointId = "http-verify",
        maxFilesPerTrigger = 1, merge = MergeConfig(numBuckets = 8)))
        .select(col("doc_id"), stringifyIntArray(col("tokens")).as("tokens_csv"),
          col("n_tok"), col("source"), col("lsn"))
        .orderBy("doc_id")
    }),

    // The dedupe-by-(doc_id, lsn) window operator on its own (north-rule
    // shape: row_number over lsn desc).
    "cdc_dedupe_lww" -> ((s, dir) => {
      MergeInto.dedupeLatest(cdcChanges(s, dir))
        .select("doc_id", "lsn", "op", "source")
        .orderBy("doc_id")
    }),

    // Per-partition feed statistics (lineage shape) over the change feed.
    "cdc_lineage_stats" -> ((s, dir) => {
      cdcChanges(s, dir)
        .groupBy((col("lsn") % 8).cast("int").as("part"))
        .agg(count(lit(1)).as("n_events"),
          min("lsn").as("min_lsn"), max("lsn").as("max_lsn"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_delete"),
          countDistinct("doc_id").as("n_keys"))
        .orderBy("part")
    }),

    // Match-or-create decision table (PontusIdGenerator semantics): state
    // after the first half of the feed, probed with the second half's keys.
    "cdc_match_status" -> ((s, dir) => {
      val ch = cdcChanges(s, dir)
      val half = 5000L
      val w = Window.partitionBy(col("doc_id")).orderBy(col("lsn").desc)
      val target = ch.filter(col("lsn") < half)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("op") =!= "D")
      val incoming = ch.filter(col("lsn") >= half).select("doc_id").distinct()
      Route.matchStatus(incoming, target, "doc_id")
        .select("doc_id", "n_matches", "match_status")
        .orderBy("doc_id")
    }),

    // Maintenance in the correctness gate: same replay as cdc_final_state,
    // then a full compaction (tombstone GC at the feed's max LSN) and a
    // vacuum — the surviving state must be IDENTICAL to the uncompacted
    // oracle answer.
    "cdc_compaction" -> ((s, dir) => {
      val table = LakeTable(scratchDir("graft-cdc-cmp", dir))
      val changes = cdcChanges(s, dir).persist()
      try {
        (0L until 4L).foreach { b =>
          MergeInto.apply(s, table, changes.filter(col("lsn") % 4 === b),
            "compact", b, MergeConfig(numBuckets = 8))
        }
        val maxLsn = changes.agg(max("lsn")).head().getLong(0)
        graft.table.Maintenance.compact(s, table, tombstoneWatermark = maxLsn)
        graft.table.Maintenance.vacuum(table, retainFromVersion = table.currentVersion())
        table.read(s)
          .select(col("doc_id"), stringifyIntArray(col("tokens")).as("tokens_csv"),
            col("n_tok"), col("source"), col("lsn"))
          .orderBy("doc_id")
      } finally changes.unpersist()
    }),

    // Online bucket-count scaling in the correctness gate: half the feed
    // merged at 4 buckets, a shuffle-free rebucket 4 -> 16 mid-replay
    // (each old bucket splits locally into 4 — no exchange), then the
    // rest of the feed merged under the NEW count (the kernel reads it
    // from the manifest, ignoring the stale config value) — the final
    // state must equal the plain-replay oracle.
    "cdc_rebucket" -> ((s, dir) => {
      val table = LakeTable(scratchDir("graft-cdc-rb", dir))
      val changes = cdcChanges(s, dir).persist()
      try {
        (0L until 2L).foreach { b =>
          MergeInto.apply(s, table, changes.filter(col("lsn") % 4 === b),
            "rb", b, MergeConfig(numBuckets = 4))
        }
        graft.table.Maintenance.rebucket(s, table, 16)
        (2L until 4L).foreach { b =>
          MergeInto.apply(s, table, changes.filter(col("lsn") % 4 === b),
            "rb", b, MergeConfig(numBuckets = 4))
        }
        table.read(s)
          .select(col("doc_id"), stringifyIntArray(col("tokens")).as("tokens_csv"),
            col("n_tok"), col("source"), col("lsn"))
          .orderBy("doc_id")
      } finally changes.unpersist()
    }),

    // Time travel: state as of the snapshot after the SECOND micro-batch
    // (only events with lsn % 4 in {0,1} applied), read from the retained
    // older manifest while the table is at version 3.
    "cdc_time_travel" -> ((s, dir) => {
      val table = LakeTable(scratchDir("graft-cdc-tt", dir))
      val changes = cdcChanges(s, dir).persist()
      try {
        val versions = (0L until 4L).map { b =>
          MergeInto.apply(s, table, changes.filter(col("lsn") % 4 === b),
            "tt", b, MergeConfig(numBuckets = 8)).version
        }
        table.readVersion(s, versions(1))
          .select(col("doc_id"), stringifyIntArray(col("tokens")).as("tokens_csv"),
            col("source"), col("lsn"))
          .orderBy("doc_id")
      } finally changes.unpersist()
    }),

    // Per-column update policy (updatereq rules): replay the upsert-only
    // feed with source=ExcludeFromUpdate — the stored source is the one
    // set by the insert-time event (the max-lsn event of the key's FIRST
    // applied batch), while data columns follow the overall winner.
    "cdc_merge_policy" -> ((s, dir) => {
      val table = LakeTable(scratchDir("graft-cdc-pol", dir))
      val changes = cdcChanges(s, dir).filter(col("op") =!= "D").persist()
      try {
        (0L until 4L).foreach { b =>
          MergeInto.apply(s, table, changes.filter(col("lsn") % 4 === b),
            "policy", b, MergeConfig(numBuckets = 8,
              columnPolicy = Map("source" -> ColumnPolicy.ExcludeFromUpdate)))
        }
        table.read(s)
          .select(col("doc_id"), stringifyIntArray(col("tokens")).as("tokens_csv"),
            col("source"), col("lsn"))
          .orderBy("doc_id")
      } finally changes.unpersist()
    }),

    // Fuzzy match-or-create (textContainsFuzzy): probes with deterministic
    // single-edit typos, levenshtein <= 1 decision inside an exact block.
    // The block key is HIGH-CARDINALITY (lang x a registry-shard exact
    // prop — the reference's mandatoryInSearch exact props): at 100 TB a
    // low-cardinality block (e.g. lang alone, 4 values) is a skew bomb —
    // 4 partitions each doing O(n^2/4) in-block comparisons. Block
    // cardinality must scale with the data (pick the modulus so expected
    // block size stays O(1): cardinality ~ n / target_block_size); the
    // fuzzy predicate then only ever runs inside O(1)-sized blocks.
    "match_fuzzy" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      val blockOf: Column = concat(d("lang"), lit("-"),
        (d("doc_id") % 500).cast("string"))
      val target = d.select(concat(lit("doc-"), d("doc_id").cast("string")).as("key"),
        blockOf.as("block"))
      val incoming = d.filter(d("doc_id") % 7 === 0).select(
        when(d("doc_id") % 3 === 0,
          concat(lit("doc-"), d("doc_id").cast("string"), lit("x")))
          .otherwise(concat(lit("doc-"), d("doc_id").cast("string"))).as("probe"),
        blockOf.as("block"))
      Route.matchStatusFuzzy(incoming, target, "block", "probe", "key", maxDist = 1)
        .select("probe", "block", "n_matches", "match_status")
        .orderBy("probe", "block")
    }),

    // Declarative updatereq rules -> MERGE config: the reference's entire
    // upsert surface is a JSON rule doc (flow.xml:1163-1307); here the doc
    // is parsed into merge keys + column policies and drives the same
    // 4-batch replay as cdc_merge_policy — rules in, oracle-identical
    // state out.
    "cdc_rules_merge" -> ((s, dir) => {
      val rules = graft.rules.UpdateReq.parse(
        """{"updatereq":{"vertices":[
          |  {"label":"Doc","props":[
          |    {"name":"doc_id","val":"${doc_id}","predicate":"eq","mandatoryInSearch":true},
          |    {"name":"tokens","val":"${tokens}"},
          |    {"name":"source","val":"${source}","excludeFromUpdate":true}
          |  ]}],"edges":[]}}""".stripMargin)
      val doc = rules.vertex("Doc")
      require(doc.exactKeys.map(_.columnName) == Seq("doc_id"),
        "rule doc must declare doc_id as the exact mandatory search key")
      val table = LakeTable(scratchDir("graft-cdc-rules", dir))
      val changes = cdcChanges(s, dir).filter(col("op") =!= "D").persist()
      try {
        (0L until 4L).foreach { b =>
          MergeInto.apply(s, table, changes.filter(col("lsn") % 4 === b),
            "rules", b, MergeConfig(numBuckets = 8,
              columnPolicy = doc.columnPolicy))
        }
        table.read(s)
          .select(col("doc_id"), stringifyIntArray(col("tokens")).as("tokens_csv"),
            col("source"), col("lsn"))
          .orderBy("doc_id")
      } finally changes.unpersist()
    }),

    // Rules-driven fuzzy match-or-create: a Person-shaped rule doc
    // (textContainsFuzzy name + exact registry-shard mandatory prop,
    // uppercase post-processor) compiled to the blocked fuzzy matcher.
    "rules_match_fuzzy" -> ((s, dir) => {
      val rules = graft.rules.UpdateReq.parse(
        """{"updatereq":{"vertices":[
          |  {"label":"Person","props":[
          |    {"name":"full_name","val":"${name}","predicate":"textContainsFuzzy",
          |     "type":"[Ljava.lang.String;","excludeFromUpdate":true,
          |     "mandatoryInSearch":true,"postProcessor":"${it?.toUpperCase()?.trim()}"},
          |    {"name":"registry_shard","val":"${shard}","predicate":"eq",
          |     "mandatoryInSearch":true}
          |  ]}],"edges":[]}}""".stripMargin)
      val person = rules.vertex("Person")
      val d = s.read.parquet(t(dir, "documents"))
      val shard = (d("doc_id") % 500).cast("string")
      val target = d.select(
        concat(lit("doc-"), d("doc_id").cast("string")).as("name"), shard.as("shard"))
      val incoming = d.filter(d("doc_id") % 7 === 0).select(
        when(d("doc_id") % 3 === 0,
          concat(lit("doc-"), d("doc_id").cast("string"), lit("x")))
          .otherwise(concat(lit("doc-"), d("doc_id").cast("string"))).as("name"),
        shard.as("shard"))
      person.matchStatus(person.bind(incoming), person.bind(target), maxDist = 1)
        .select(col("_fz_in").as("probe"), col("_blk").as("shard"),
          col("n_matches"), col("match_status"))
        .orderBy("probe", "shard")
    }),

    // CSV ingestion front door (CSVToJSONProcessor + CleanCSVHeader):
    // events rendered to quote-aware CSV (props JSON carries quotes),
    // deterministically corrupted every 500th line, read back PERMISSIVE
    // with corrupt records routed to dead-letter; surviving parsed rows.
    "csv_parse_route" -> ((s, dir) => {
      import scala.jdk.CollectionConverters._
      val root = scratchDir("graft-csv-q", dir)
      val ev = s.read.parquet(t(dir, "events")).filter(col("event_id") < 2000)
      val csvOpts = Map("quote" -> "\"", "escape" -> "\"").asJava
      val line = when(col("event_id") % 500 === 0,
        concat(col("event_id").cast("string"), lit(","),
          col("user_id").cast("string")))
        .otherwise(to_csv(struct(col("event_id"), col("user_id"),
          col("event_type"), col("value"), col("props")), csvOpts))
      ev.select(line.as("value")).write.mode("overwrite").text(root)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      val routed = graft.sources.CsvSource.readRouted(s, root, schema, header = false)
      // Evaluate the good route EAGERLY (localCheckpoint) while the parse
      // cache is still alive, THEN release. The previous release-first
      // order violated RoutedCsv's contract ("after release the frames
      // must not be reused"): a count()-style consumer prunes every data
      // column, leaving a corrupt-record-only scan projection, which
      // Spark refuses to recompute uncached
      // (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — exactly the bench harness's
      // action, so the driver's round-5 bench recorded this query as
      // FAILED (-1.0) while the full-result correctness check passed.
      val result = routed.good
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")
        .localCheckpoint()
      routed.release()
      result
    }),

    // JSONPath-sourced template tokens (StringReplacer.replaceTokens):
    // mixed attribute + JSONPath token expansion over the props column.
    "template_json_expand" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      ev.select(ev("event_id"),
        Fns.templateExpandJsonPaths("event ~~{e}~~ k=~~{$.k}~~", ev("props"),
          Map("e" -> ev("event_type"))).as("msg"))
        .orderBy("event_id")
    }),

    // Labeled edge emission (updatereq edges): user -> event_type edges
    // with observation counts and LSN ranges.
    "edges_emit" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      Edges.emit(ev, "acted",
        concat(lit("u"), ev("user_id").cast("string")),
        concat(lit("t-"), ev("event_type")),
        lsn = Some(ev("event_id")))
        .orderBy("from_id", "to_id")
    }),

    // Edges END-TO-END through the MERGE kernel: per-batch edge emission
    // merged into an edges LakeTable across 2 micro-batches with
    // accumulating policies (n_obs adds, LSN range widens) — the final
    // table equals the single-pass global aggregate.
    "edges_merge_cdc" -> ((s, dir) => {
      val table = LakeTable(scratchDir("graft-edges-q", dir))
      val ev = s.read.parquet(t(dir, "events")).persist()
      try {
        (0L until 2L).foreach { b =>
          val part = ev.filter(col("event_id") % 2 === b)
          val edges = Edges.emit(part, "acted",
            concat(lit("u"), part("user_id").cast("string")),
            concat(lit("t-"), part("event_type")),
            lsn = Some(part("event_id")))
          MergeInto.apply(s, table, Edges.asChanges(edges, b), "edges", b,
            MergeConfig(numBuckets = 8, columnPolicy = Edges.mergePolicies,
              initialSchema = Some(Edges.tableSchema)))
        }
        table.read(s)
          .select("edge_label", "from_id", "to_id", "n_obs", "min_lsn", "max_lsn")
          .orderBy("from_id", "to_id")
      } finally ev.unpersist()
    }),

    // Edges DERIVED FROM THE RULE DOC end-to-end: the reference writes
    // its edges from the same updatereq document as its vertices
    // (flow.xml:1298-1307) — here the parsed EdgeRule list drives
    // Rules.emitEdges (from/to = the vertex rules' bound exact keys) into
    // the MERGE kernel across 2 micro-batches with accumulating policies.
    "rules_edges_merge" -> ((s, dir) => {
      val rules = graft.rules.UpdateReq.parse(
        """{"updatereq":{"vertices":[
          |  {"label":"User","props":[
          |    {"name":"uid","val":"${user}","predicate":"eq","mandatoryInSearch":true}]},
          |  {"label":"EventType","props":[
          |    {"name":"etype","val":"${etype}","predicate":"eq","mandatoryInSearch":true}]}],
          | "edges":[{"label":"acted","fromVertexLabel":"User","toVertexLabel":"EventType"}]}}"""
          .stripMargin)
      val table = LakeTable(scratchDir("graft-rules-edges-q", dir))
      val ev0 = s.read.parquet(t(dir, "events"))
      val ev = ev0.select(ev0("event_id").as("lsn"),
        concat(lit("u"), ev0("user_id").cast("string")).as("user"),
        concat(lit("t-"), ev0("event_type")).as("etype")).persist()
      try {
        (0L until 2L).foreach { b =>
          val part = ev.filter(col("lsn") % 2 === b)
          val edges = rules.emitEdges(part, lsn = Some(col("lsn")))
          MergeInto.apply(s, table, Edges.asChanges(edges, b), "redges", b,
            MergeConfig(numBuckets = 8, columnPolicy = Edges.mergePolicies,
              initialSchema = Some(Edges.tableSchema)))
        }
        table.read(s)
          .select("edge_label", "from_id", "to_id", "n_obs", "min_lsn", "max_lsn")
          .orderBy("from_id", "to_id")
      } finally ev.unpersist()
    }),

    // ================= routing (QueryRecord / RouteOnAttribute) =========

    "route_filter" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      ev.filter(ev("event_type") === "purchase" && ev("value") > 50)
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    }),

    // QueryRecord in its literal form: a SQL text per output relationship
    // over the current batch (reference flow.xml:6432-6475); also covers
    // the query-from-input processor (PontusTinkerPopClientQueryFromFlowFile)
    "route_sql_query" -> ((s, dir) => {
      s.read.parquet(t(dir, "events")).createOrReplaceTempView("FLOWFILE")
      s.sql("""SELECT event_id, user_id, event_type FROM FLOWFILE
              |WHERE event_type = 'signup' AND user_id % 2 = 0
              |ORDER BY event_id""".stripMargin)
    }),

    // UDTF-shaped explode (reference PST/archive explode: 1 blob -> N
    // records): one document -> its distinct word 3-shingles
    "explode_shingles" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 20)
      d.select(d("doc_id"), explode(Fns.shingles(d("text"), 3)).as("shingle"))
        .orderBy("doc_id", "shingle")
    }),

    "route_tagged_counts" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      Route.tagged(ev, Seq(
        "purchase_hi" -> (ev("event_type") === "purchase" && ev("value") >= 100),
        "error" -> (ev("event_type") === "error"),
        "signup" -> (ev("event_type") === "signup")))
        .groupBy("route").agg(count(lit(1)).as("n"))
        .orderBy("route")
    }),

    // ================= scalar transforms =================

    "json_path_extract" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      ev.select(ev("event_id"),
        get_json_object(ev("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")
    }),

    "template_expand" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      ev.select(ev("event_id"),
        Fns.templateExpand("user ~~{u}~~ event ~~{e}~~",
          Map("u" -> ev("user_id"), "e" -> ev("event_type"))).as("msg"))
        .orderBy("event_id")
    }),

    "record_to_json" -> ((s, dir) => {
      val n = s.read.parquet(t(dir, "nation"))
      val proj = n.select("n_name", "n_regionkey")
      n.select(n("n_nationkey"), Fns.recordToJson(proj).as("j"))
        .orderBy("n_nationkey")
    }),

    // Entity extraction with the reference's documented entity regex set
    // (email/URL/phone/postcode, flow.xml:1140-1160) over deterministic
    // entity-bearing text; per-type matches stringified (driver-hashable).
    "regex_entity_extract" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      val ents = Fns.extractEntities(entityText(d))
      d.select((d("doc_id") +: ents.map { case (n, c) =>
          array_join(c, "|").as(s"${n}s")
        }) :+ ents.map { case (_, c) => size(c) }.reduce(_ + _).as("n_entities"): _*)
        .orderBy("doc_id")
    }),

    "regex_replace_norm" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      d.select(d("doc_id"),
        substring(regexp_replace(lower(d("text")), "[aeiou]", "_"), 1, 40).as("norm"))
        .orderBy("doc_id")
    }),

    "hash_sha256" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      d.select(d("doc_id"), sha2(d("text"), 256).as("h")).orderBy("doc_id")
    }),

    "fingerprint_md5" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      d.select(d("doc_id"), Fns.docFingerprint(d("text")).as("fp")).orderBy("doc_id")
    }),

    "base64_content" -> ((s, dir) => {
      val n = s.read.parquet(t(dir, "nation"))
      n.select(n("n_nationkey"), base64(n("n_name").cast("binary")).as("b64"))
        .orderBy("n_nationkey")
    }),

    // keyed HMAC tokenization — no SQL oracle (keyed crypto); rows-only
    "hmac_tokenize" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      d.select(d("doc_id"), Fns.hmacSha256("graft-demo-key")(d("text")).as("token"))
        .orderBy("doc_id")
    }),

    // StringReplacer long tail: numeric-suffix increment, cron-syntax
    // validation, CPU-affinity hex mask, longest common prefix.
    "string_add_one" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      val name = when(d("doc_id") % 11 === 0, lit("nodigits"))
        .otherwise(concat(lit("file-"),
          lpad((d("doc_id") % 103).cast("string"), 3, "0"),
          lit(".part"), (d("doc_id") % 9).cast("string")))
      d.select(d("doc_id"), name.as("name"),
        Fns.replaceAddOne(name).as("next"))
        .orderBy("doc_id")
    }),

    "cron_validate" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events")).filter(col("event_id") < 3000)
      val cron = when(ev("event_id") % 4 === 0,
        concat(lit("0 30 "), (ev("event_id") % 24).cast("string"), lit(" * * ?")))
        .when(ev("event_id") % 4 === 1,
          concat(lit("99 "), (ev("event_id") % 60).cast("string"), lit(" 12 * * ?")))
        .when(ev("event_id") % 4 === 2, lit("0 15 10 ? JAN-MAR MON-FRI 2026"))
        .otherwise(lit("not a cron at all"))
      ev.select(ev("event_id"), cron.as("cron"),
        Fns.isValidCron(cron).as("is_valid"))
        .orderBy("event_id")
    }),

    "cpu_mask_hex" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      val cpus = when(d("doc_id") % 3 === 0,
        concat(lit("0-"), (d("doc_id") % 4 + 1).cast("string")))
        .when(d("doc_id") % 3 === 1, lit("0,2,4"))
        .otherwise(concat(lit("1-2,"), (d("doc_id") % 20 + 10).cast("string")))
      d.select(d("doc_id"), cpus.as("cpus"),
        Fns.cpuListToHex(words = 1, hexDigits = 16)(cpus).as("mask"))
        .orderBy("doc_id")
    }),

    "common_prefix" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      val a = concat(lit("doc-"), d("doc_id").cast("string"))
      val b = concat(lit("doc-"), ((d("doc_id") + 1) % 500).cast("string"))
      d.select(d("doc_id"),
        Fns.greatestCommonPrefix(a, b).as("prefix"))
        .orderBy("doc_id")
    }),

    // ================= text analysis =================

    "text_token_count" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      d.select(d("doc_id"), Fns.tokenCount(d("text")).as("n_words"),
        d("n_chars")).orderBy("doc_id")
    }),

    "text_quality" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      val f = Fns.qualityFeatures(d("text"))
      d.select((d("doc_id") +: f.map { case (n, c) => c.as(n) }) :+
        Fns.qualityScore(d("text")).as("quality"): _*)
        .orderBy("doc_id")
    }),

    // BPE-ish subword proxy: non-empty runs between whitespace/punct
    "text_subword_count" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      d.select(d("doc_id"), Fns.subwordCount(d("text")).as("n_subwords"))
        .orderBy("doc_id")
    }),

    "text_lang_id" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      d.select(d("doc_id"), Fns.langId(d("text")).as("lang_pred")).orderBy("doc_id")
    }),

    // ================= dedup =================

    "dedup_exact" -> ((s, dir) => {
      Dedup.exact(s.read.parquet(t(dir, "documents")))
        .select("fp", "keep_id", "n_members", "n_dups")
        .orderBy("fp")
    }),

    "dedup_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccard(s.read.parquet(t(dir, "documents")), threshold = 0.2)
        .orderBy("id_a", "id_b")
    }),

    "dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccard(s.read.parquet(t(dir, "documents")), threshold = 0.2)
      Dedup.clusters(pairs, maxIter = 8).orderBy("id")
    }),

    // survivors after near-dup clustering: drop every doc that is not its
    // cluster's representative (lowest id)
    "dedup_drop_survivors" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val pairs = Dedup.ngramJaccard(docs, threshold = 0.2)
      Dedup.dropNearDuplicates(docs, pairs, maxIter = 8)
        .select("doc_id").orderBy("doc_id")
    }),

    // sketch-based dedup — engine-specific hashes; rows-only checks
    "dedup_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLsh(s.read.parquet(t(dir, "documents")), k = 16, bands = 4)
        .orderBy("id_a", "id_b")
    }),

    // NOTE a "minhash candidates + exact verify == exhaustive pairs"
    // oracle was built and REJECTED here: it passed at sf0.001/sf0.01 but
    // at sf0.1 the banding (k=16, bands=4) missed 2 of 256 j>=0.2 pairs —
    // at j=0.8889 and j=0.8, i.e. within the 1-(1-j^4)^4 per-pair miss
    // expectation (~12% at j=0.8). Minhash recall is probabilistic by
    // construction, so exhaustive equality is not a sound oracle at any
    // banding; the candidates-superset property stays sbt-gated on its
    // corpus and the measured sf0.1 recall (254/256) is recorded in
    // COVERAGE.md.

    "dedup_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(s.read.parquet(t(dir, "documents")), maxHamming = 8)
        .orderBy("id_a", "id_b")
    }),

    // Exact cosine pair join (planes=0): DuckDB-oracle-checked baseline.
    "dedup_embedding" -> ((s, dir) => {
      Dedup.embeddingCosine(s.read.parquet(t(dir, "embeddings")),
        threshold = 0.3, planes = 0)
        .orderBy("id_a", "id_b")
    }),

    // The scale path: hyperplane-bucketed with single-bit multi-probe.
    // Approximate by construction (rows-only here; recall vs the exact
    // path is gated in DedupSpec).
    "dedup_embedding_lsh" -> ((s, dir) => {
      Dedup.embeddingCosine(s.read.parquet(t(dir, "embeddings")),
        threshold = 0.3, planes = 8, multiProbe = true)
        .orderBy("id_a", "id_b")
    }),

    // ================= similarity search =================

    "ann_bruteforce_topk" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 5)
        .select("query_id", "nbr_id", "sim", "rank")
        .orderBy("query_id", "rank")
    }),

    "ann_lsh_topk" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      Ann.lshTopK(e, e.filter(col("vec_id") < 5), k = 5, planes = 6, probes = 7)
        .select("query_id", "nbr_id", "sim", "rank")
        .orderBy("query_id", "rank")
    }),

    // LSH in its exhaustive degeneracy, driver-gated: with ONE hyperplane
    // and 2 probes the probe list {b, b^1} covers both possible buckets,
    // so every corpus row is a candidate and the exact re-rank equals
    // brute force EXACTLY — the brute-force DuckDB SQL gates the whole
    // bucket/probe/join/re-rank machinery (the ann_ivf_exhaustive trick,
    // applied to the hyperplane path).
    "ann_lsh_exhaustive" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      Ann.lshTopK(e, e.filter(col("vec_id") < 5), k = 5, planes = 1, probes = 2)
        .select("query_id", "nbr_id", "sim", "rank")
        .orderBy("query_id", "rank")
    }),

    // IVF coarse-quantizer ANN (the second scale path): k-means lists on
    // a deterministic sample, nprobe-list candidate pruning, exact cosine
    // re-rank. No SQL oracle (k-means-specific); IvfSpec gates recall and
    // proves nprobe=nlist == brute force.
    "ann_ivf_topk" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      Ann.ivfTopK(e, e.filter(col("vec_id") < 5), k = 5, nlist = 16, nprobe = 4)
        .select("query_id", "nbr_id", "sim", "rank")
        .orderBy("query_id", "rank")
    }),

    // IVF at nprobe = nlist probes EVERY inverted list — exhaustive by
    // construction, provably identical to brute force (IvfSpec identity) —
    // so the brute-force DuckDB oracle gates the whole IVF machinery
    // (training, assignment, probe, re-rank) end-to-end in the driver.
    "ann_ivf_exhaustive" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      Ann.ivfTopK(e, e.filter(col("vec_id") < 5), k = 5, nlist = 16, nprobe = 16)
        .select("query_id", "nbr_id", "sim", "rank")
        .orderBy("query_id", "rank")
    }),

    // ================= archive explode (real JDK-only decode) ===========

    // UnpackContent / PST-reader shape (1 archive -> N records): documents
    // packed into zip archives (10 docs per zip, built deterministically
    // in-query), exploded back to one row per entry with REAL zip decode.
    // Entry sizes equal the original text byte lengths — SQL-checkable.
    "archive_explode" -> ((s, dir) => {
      import s.implicits._
      val d = s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 200)
      val parts = d.select((d("doc_id") % 10).as("zip_id"),
        concat(lit("doc"), d("doc_id").cast("string"), lit(".txt")).as("name"),
        d("text").cast("binary").as("bytes"))
      val zips = parts.as[(Long, String, Array[Byte])]
        .groupByKey(_._1)
        .mapGroups { (zid, it) =>
          (zid, graft.sources.ArchiveSource.zipBytes(
            it.map(e => (e._2, e._3)).toSeq.sortBy(_._1)))
        }
        .toDF("archive_id", "payload")
      graft.sources.ArchiveSource.explodeZip(zips).toDF()
        .select(col("archive_id").as("zip_id"), col("entry_name"), col("n_bytes"))
        .orderBy("zip_id", "entry_name")
    }),

    // PPTX slide-text extraction (the reference's POI slide walk,
    // PontusMSOfficePPTXReaderRecord.java:142-176), JDK-only: pptx = zip
    // of DrawingML XML; text = <a:t> runs. Round-trips the document text
    // exactly (XML escaping included) — SQL-checkable.
    "pptx_slide_text" -> ((s, dir) => {
      import s.implicits._
      val d = s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 40)
      val decks = d.select(floor(d("doc_id") / 4).as("deck_id"),
        d("doc_id"), d("text"))
        .as[(Long, Long, String)]
        .groupByKey(_._1)
        .mapGroups { (deck, it) =>
          (deck, graft.sources.ArchiveSource.pptxBytes(
            it.toSeq.sortBy(_._2).map(_._3)))
        }
        .toDF("archive_id", "payload")
      graft.sources.ArchiveSource.pptxSlideText(decks).toDF()
        .select(col("archive_id").as("deck_id"), col("slide_idx"),
          col("text").as("slide_text"))
        .orderBy("deck_id", "slide_idx")
    }),

    // XLSX cell extraction (the reference's ConvertExcelToCSVProcessor, 2
    // uses in the production flow), JDK-only: xlsx = zip of worksheet XML
    // + sharedStrings; numeric cells inline, string cells resolved through
    // the shared-string table. Workbooks built deterministically in-query
    // (4 docs per workbook, one row each: doc_id | text | lang) and
    // round-tripped — SQL-checkable.
    "xlsx_cells" -> ((s, dir) => {
      import s.implicits._
      val d = s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 40)
      val books = d.select(floor(d("doc_id") / 4).as("book_id"),
        d("doc_id"), d("text"), d("lang"))
        .as[(Long, Long, String, String)]
        .groupByKey(_._1)
        .mapGroups { (book, it) =>
          val rows = it.toSeq.sortBy(_._2)
            .map(r => Seq(r._2.toString, r._3, r._4))
          (book, graft.sources.ArchiveSource.xlsxBytes(rows))
        }
        .toDF("archive_id", "payload")
      graft.sources.ArchiveSource.xlsxCells(books).toDF()
        .select(col("archive_id").as("book_id"), col("sheet_idx"),
          col("row_idx"), col("col_idx"), col("value"))
        .orderBy("book_id", "row_idx", "col_idx")
    }),

    // Real decode behind the MediaDecoder seam: zip containers sniffed by
    // magic and genuinely parsed (n_parts = entry count).
    "multimodal_archive" -> ((s, dir) => {
      import s.implicits._
      val d = s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 200)
      val parts = d.select((d("doc_id") % 10).as("zip_id"),
        concat(lit("doc"), d("doc_id").cast("string"), lit(".txt")).as("name"),
        d("text").cast("binary").as("bytes"))
      val zips = parts.as[(Long, String, Array[Byte])]
        .groupByKey(_._1)
        .mapGroups { (zid, it) =>
          (zid, graft.sources.ArchiveSource.zipBytes(
            it.map(e => (e._2, e._3)).toSeq.sortBy(_._1)))
        }
        .toDF("doc_id", "payload")
      Multimodal.extractFeatures(zips, Multimodal.ArchiveDecoder).toDF()
        .select(col("doc_id").as("archive_id"), col("format"), col("n_parts"))
        .orderBy("archive_id")
    }),

    // ================= multimodal plumbing =================

    "multimodal_features" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      val payloads = d.select(d("doc_id"), d("text").cast("binary").as("payload"))
      Multimodal.extractFeatures(payloads).toDF()
        .select("doc_id", "n_bytes", "format")
        .orderBy("doc_id")
    }),

    // Frame/segment sampling plumbing: byte windows per payload (the
    // video-frame / audio-segment shape); window lengths are the
    // SQL-checkable projection
    "multimodal_windows" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 50)
      val payloads = d.select(d("doc_id"), d("text").cast("binary").as("payload"))
      Multimodal.sampleWindows(payloads, windowBytes = 32, stride = 32)
        .select(col("doc_id"), col("window_idx"),
          length(col("window")).as("win_len"))
        .orderBy("doc_id", "window_idx")
    }),

    // ================= joins / aggregation / windows =================

    "join_revenue_by_nation" -> ((s, dir) => {
      val li = s.read.parquet(t(dir, "lineitem"))
      val o = s.read.parquet(t(dir, "orders"))
      val c = s.read.parquet(t(dir, "customer"))
      val n = s.read.parquet(t(dir, "nation"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(n("n_name"))
        .agg(
          sum((li("l_extendedprice").cast("decimal(18,4)") *
            (lit(1).cast("decimal(18,4)") - li("l_discount").cast("decimal(18,4)")))
            .cast("decimal(28,8)")).as("revenue"),
          count(lit(1)).as("n_items"))
        // products of 2dp x 2dp are exact at 4dp; the final cast to DOUBLE
        // (after the exact decimal aggregation) hashes identically across
        // the Spark and DuckDB parquet readers
        .withColumn("revenue", col("revenue").cast("decimal(28,4)").cast("double"))
        .orderBy("n_name")
    }),

    "window_topk_per_user" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      ev.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("user_id", "event_id", "value", "rnk")
        .orderBy("user_id", "rnk")
    }),

    "agg_events_daily" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      // day as DATE (not the TIMESTAMP date_trunc returns) and the exact
      // decimal sum cast to DOUBLE: both representations hash identically
      // across Spark and DuckDB parquet writers (values are exact at 2dp,
      // so the double is bit-stable)
      ev.groupBy(to_date(ev("ts")).as("day"), ev("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(ev("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy("day", "event_type")
    }),

    "agg_rollup_docs" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      d.rollup(d("lang"), d("source"))
        .agg(count(lit(1)).as("n"), sum(d("n_chars")).as("chars"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)
    }),

    "set_except_docs" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      d.filter(d("lang") === "en").select("doc_id")
        .except(d.filter(d("source") === "src0").select("doc_id"))
        .orderBy("doc_id")
    }),

    "window_sessionize" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // ts is TIMESTAMP_NTZ in the driver parquet: go via timestamp to epoch
      val epoch: Column => Column = c => c.cast("timestamp").cast("long")
      val gapped = ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            epoch(col("ts")) - epoch(col("prev_ts")) > 1800, 1L)
            .otherwise(0L))
      gapped.withColumn("session_id",
          sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id")
        .agg(max("session_id").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    })
  )

  /** DuckDB-runnable oracles. Omitted for engine-specific-hash operators
    * (minhash/simhash/LSH/HMAC) -> driver records rows-only checks; those
    * operators are instead oracle-checked in ScalaTest against exact
    * implementations.
    */
  def oracleSql: Map[String, String] = Map(

    "cdc_final_state" ->
      cdcLwwFinalSql,

    "cdc_trickle_delta" ->
      cdcLwwFinalSql,

    "cdc_stream_final" ->
      cdcLwwFinalSql,

    "cdc_http_final" ->
      cdcLwwFinalSql,

    "cdc_dedupe_lww" ->
      s"""WITH changes AS ($cdcChangesSql),
         |latest AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
         |  FROM changes)
         |SELECT doc_id, lsn, op, source FROM latest WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,

    "cdc_lineage_stats" ->
      s"""WITH changes AS ($cdcChangesSql)
         |SELECT CAST(lsn % 8 AS INTEGER) AS part, count(*) AS n_events,
         |       min(lsn) AS min_lsn, max(lsn) AS max_lsn,
         |       CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
         |       count(DISTINCT doc_id) AS n_keys
         |FROM changes GROUP BY 1 ORDER BY part""".stripMargin,

    "cdc_match_status" ->
      s"""WITH changes AS ($cdcChangesSql),
         |target AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
         |    FROM changes WHERE lsn < 5000) ranked
         |  WHERE rn = 1 AND op <> 'D'),
         |incoming AS (SELECT DISTINCT doc_id FROM changes WHERE lsn >= 5000),
         |counted AS (
         |  SELECT i.doc_id, count(t.doc_id) AS n_matches
         |  FROM incoming i LEFT JOIN target t ON i.doc_id = t.doc_id
         |  GROUP BY i.doc_id)
         |SELECT doc_id, n_matches,
         |       CASE WHEN n_matches = 1 THEN 'MATCH'
         |            WHEN n_matches = 0 THEN 'NO_MATCH'
         |            ELSE 'MULTIPLE' END AS match_status
         |FROM counted ORDER BY doc_id""".stripMargin,

    "cdc_compaction" ->
      cdcLwwFinalSql,

    "cdc_rebucket" ->
      cdcLwwFinalSql,

    "cdc_time_travel" ->
      s"""WITH changes AS ($cdcChangesSql),
         |sub AS (SELECT * FROM changes WHERE lsn % 4 <= 1),
         |latest AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
         |  FROM sub)
         |SELECT doc_id, ${stringifyIntArraySql("tokens")} AS tokens_csv,
         |       source, lsn
         |FROM latest WHERE rn = 1 AND op <> 'D'
         |ORDER BY doc_id""".stripMargin,

    "cdc_merge_policy" ->
      s"""WITH changes AS ($cdcChangesSql),
         |u AS (SELECT *, lsn % 4 AS batch FROM changes WHERE op <> 'D'),
         |winner AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
         |  FROM u),
         |firstb AS (SELECT doc_id, min(batch) AS fb FROM u GROUP BY doc_id),
         |ins AS (
         |  SELECT u.doc_id, u.source,
         |         row_number() OVER (PARTITION BY u.doc_id ORDER BY u.lsn DESC) AS rn
         |  FROM u JOIN firstb f ON u.doc_id = f.doc_id AND u.batch = f.fb)
         |SELECT w.doc_id, ${stringifyIntArraySql("w.tokens")} AS tokens_csv,
         |       i.source AS source, w.lsn
         |FROM winner w JOIN ins i ON w.doc_id = i.doc_id AND i.rn = 1
         |WHERE w.rn = 1
         |ORDER BY w.doc_id""".stripMargin,

    "match_fuzzy" ->
      """WITH target AS (
        |  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS key,
        |         lang || '-' || CAST(doc_id % 500 AS VARCHAR) AS block
        |  FROM documents),
        |inc AS (
        |  SELECT CASE WHEN doc_id % 3 = 0
        |              THEN 'doc-' || CAST(doc_id AS VARCHAR) || 'x'
        |              ELSE 'doc-' || CAST(doc_id AS VARCHAR) END AS probe,
        |         lang || '-' || CAST(doc_id % 500 AS VARCHAR) AS block
        |  FROM documents WHERE doc_id % 7 = 0),
        |counted AS (
        |  SELECT i.probe, i.block, count(t.key) AS n_matches
        |  FROM inc i LEFT JOIN target t
        |    ON i.block = t.block AND levenshtein(i.probe, t.key) <= 1
        |  GROUP BY i.probe, i.block)
        |SELECT probe, block, n_matches,
        |       CASE WHEN n_matches = 1 THEN 'MATCH'
        |            WHEN n_matches = 0 THEN 'NO_MATCH'
        |            ELSE 'MULTIPLE' END AS match_status
        |FROM counted ORDER BY probe, block""".stripMargin,

    "cdc_rules_merge" ->
      s"""WITH changes AS ($cdcChangesSql),
         |u AS (SELECT *, lsn % 4 AS batch FROM changes WHERE op <> 'D'),
         |winner AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
         |  FROM u),
         |firstb AS (SELECT doc_id, min(batch) AS fb FROM u GROUP BY doc_id),
         |ins AS (
         |  SELECT u.doc_id, u.source,
         |         row_number() OVER (PARTITION BY u.doc_id ORDER BY u.lsn DESC) AS rn
         |  FROM u JOIN firstb f ON u.doc_id = f.doc_id AND u.batch = f.fb)
         |SELECT w.doc_id, ${stringifyIntArraySql("w.tokens")} AS tokens_csv,
         |       i.source AS source, w.lsn
         |FROM winner w JOIN ins i ON w.doc_id = i.doc_id AND i.rn = 1
         |WHERE w.rn = 1
         |ORDER BY w.doc_id""".stripMargin,

    "rules_match_fuzzy" ->
      """WITH target AS (
        |  SELECT upper('doc-' || CAST(doc_id AS VARCHAR)) AS key,
        |         CAST(doc_id % 500 AS VARCHAR) AS shard
        |  FROM documents),
        |inc AS (
        |  SELECT upper(CASE WHEN doc_id % 3 = 0
        |              THEN 'doc-' || CAST(doc_id AS VARCHAR) || 'x'
        |              ELSE 'doc-' || CAST(doc_id AS VARCHAR) END) AS probe,
        |         CAST(doc_id % 500 AS VARCHAR) AS shard
        |  FROM documents WHERE doc_id % 7 = 0),
        |counted AS (
        |  SELECT i.probe, i.shard, count(t.key) AS n_matches
        |  FROM inc i LEFT JOIN target t
        |    ON i.shard = t.shard AND levenshtein(i.probe, t.key) <= 1
        |  GROUP BY i.probe, i.shard)
        |SELECT probe, shard, n_matches,
        |       CASE WHEN n_matches = 1 THEN 'MATCH'
        |            WHEN n_matches = 0 THEN 'NO_MATCH'
        |            ELSE 'MULTIPLE' END AS match_status
        |FROM counted ORDER BY probe, shard""".stripMargin,

    "csv_parse_route" ->
      """SELECT event_id, user_id, event_type, value,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events
        |WHERE event_id < 2000 AND event_id % 500 <> 0
        |ORDER BY event_id""".stripMargin,

    "template_json_expand" ->
      """SELECT event_id,
        |  'event ' || event_type || ' k=' ||
        |    coalesce(json_extract_string(props, '$.k'), '') AS msg
        |FROM events ORDER BY event_id""".stripMargin,

    "edges_emit" ->
      """SELECT 'acted' AS edge_label,
        |  'u' || CAST(user_id AS VARCHAR) AS from_id,
        |  't-' || event_type AS to_id,
        |  count(*) AS n_obs,
        |  min(event_id) AS min_lsn, max(event_id) AS max_lsn
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY from_id, to_id""".stripMargin,

    "edges_merge_cdc" ->
      """SELECT 'acted' AS edge_label,
        |  'u' || CAST(user_id AS VARCHAR) AS from_id,
        |  't-' || event_type AS to_id,
        |  count(*) AS n_obs,
        |  min(event_id) AS min_lsn, max(event_id) AS max_lsn
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY from_id, to_id""".stripMargin,

    "rules_edges_merge" ->
      """SELECT 'acted' AS edge_label,
        |  'u' || CAST(user_id AS VARCHAR) AS from_id,
        |  't-' || event_type AS to_id,
        |  count(*) AS n_obs,
        |  min(event_id) AS min_lsn, max(event_id) AS max_lsn
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY from_id, to_id""".stripMargin,

    "xlsx_cells" ->
      """WITH d AS (
        |  SELECT CAST(floor(doc_id / 4) AS BIGINT) AS book_id,
        |         CAST(doc_id % 4 + 1 AS INTEGER) AS row_idx,
        |         doc_id, text, lang
        |  FROM documents WHERE doc_id < 40),
        |cells AS (
        |  SELECT book_id, row_idx, 1 AS col_idx, CAST(doc_id AS VARCHAR) AS value FROM d
        |  UNION ALL
        |  SELECT book_id, row_idx, 2, text FROM d
        |  UNION ALL
        |  SELECT book_id, row_idx, 3, lang FROM d)
        |SELECT book_id, 1 AS sheet_idx, row_idx, CAST(col_idx AS INTEGER) AS col_idx, value
        |FROM cells ORDER BY book_id, row_idx, col_idx""".stripMargin,

    "route_filter" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' AND value > 50
        |ORDER BY event_id""".stripMargin,

    "route_sql_query" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_type = 'signup' AND user_id % 2 = 0
        |ORDER BY event_id""".stripMargin,

    "explode_shingles" -> {
      val ws = wordsSqlOf("text")
      s"""WITH w AS (SELECT doc_id, $ws AS ws FROM documents WHERE doc_id < 20),
         |sh AS (SELECT doc_id,
         |         list_distinct([array_to_string(ws[i:i+2], ' ')
         |                        for i in range(1, len(ws) - 1)]) AS shs
         |       FROM w WHERE len(ws) >= 3)
         |SELECT doc_id, unnest(shs) AS shingle FROM sh
         |ORDER BY doc_id, shingle""".stripMargin
    },

    "route_tagged_counts" ->
      """SELECT CASE
        |  WHEN event_type = 'purchase' AND value >= 100 THEN 'purchase_hi'
        |  WHEN event_type = 'error' THEN 'error'
        |  WHEN event_type = 'signup' THEN 'signup'
        |  ELSE 'unmatched' END AS route, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY route""".stripMargin,

    "json_path_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "template_expand" ->
      """SELECT event_id,
        |  'user ' || CAST(user_id AS VARCHAR) || ' event ' || event_type AS msg
        |FROM events ORDER BY event_id""".stripMargin,

    "record_to_json" ->
      """SELECT n_nationkey,
        |  '{"n_name":"' || n_name || '","n_regionkey":' || CAST(n_regionkey AS VARCHAR) || '}' AS j
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "regex_entity_extract" -> {
      val perType = Fns.entityPatterns.map { case (n, p) =>
        // coalesce: DuckDB stringifies an empty match list to NULL where
        // Spark's array_join gives ''
        s"coalesce(array_to_string(regexp_extract_all(etext, '$p'), '|'), '') AS ${n}s"
      }.mkString(",\n  ")
      val counts = Fns.entityPatterns.map { case (_, p) =>
        s"len(regexp_extract_all(etext, '$p'))"
      }.mkString(" + ")
      s"""WITH e AS (SELECT doc_id, $entityTextSql AS etext FROM documents)
         |SELECT doc_id,
         |  $perType,
         |  CAST($counts AS INTEGER) AS n_entities
         |FROM e ORDER BY doc_id""".stripMargin
    },

    "regex_replace_norm" ->
      """SELECT doc_id,
        |  substr(regexp_replace(lower(text), '[aeiou]', '_', 'g'), 1, 40) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "hash_sha256" ->
      "SELECT doc_id, sha256(text) AS h FROM documents ORDER BY doc_id",

    "fingerprint_md5" ->
      """SELECT doc_id,
        |  substr(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), 1, 16) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "base64_content" ->
      """SELECT n_nationkey, to_base64(encode(n_name)) AS b64
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "string_add_one" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN 'nodigits'
        |         ELSE 'file-' || lpad(CAST(doc_id % 103 AS VARCHAR), 3, '0')
        |              || '.part' || CAST(doc_id % 9 AS VARCHAR) END AS name
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, name,
        |    regexp_extract(name, '(\d+)(\D*)$', 1) AS num,
        |    regexp_extract(name, '(\d+)(\D*)$', 2) AS tail
        |  FROM n)
        |SELECT doc_id, name,
        |  CASE WHEN num = '' THEN name
        |       ELSE substr(name, 1, len(name) - len(num) - len(tail))
        |            || CASE WHEN len(CAST(CAST(num AS BIGINT) + 1 AS VARCHAR)) < len(num)
        |                    THEN lpad(CAST(CAST(num AS BIGINT) + 1 AS VARCHAR),
        |                              CAST(len(num) AS INTEGER), '0')
        |                    ELSE CAST(CAST(num AS BIGINT) + 1 AS VARCHAR) END
        |            || tail END AS next
        |FROM p ORDER BY doc_id""".stripMargin,

    "cron_validate" -> {
      val re = Fns.cronRegex
      s"""WITH c AS (
         |  SELECT event_id,
         |    CASE WHEN event_id % 4 = 0
         |           THEN '0 30 ' || CAST(event_id % 24 AS VARCHAR) || ' * * ?'
         |         WHEN event_id % 4 = 1
         |           THEN '99 ' || CAST(event_id % 60 AS VARCHAR) || ' 12 * * ?'
         |         WHEN event_id % 4 = 2 THEN '0 15 10 ? JAN-MAR MON-FRI 2026'
         |         ELSE 'not a cron at all' END AS cron
         |  FROM events WHERE event_id < 3000)
         |SELECT event_id, cron, regexp_matches(cron, '$re') AS is_valid
         |FROM c ORDER BY event_id""".stripMargin
    },

    "cpu_mask_hex" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN '0-' || CAST(doc_id % 4 + 1 AS VARCHAR)
        |         WHEN doc_id % 3 = 1 THEN '0,2,4'
        |         ELSE '1-2,' || CAST(doc_id % 20 + 10 AS VARCHAR) END AS cpus
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, cpus,
        |    flatten(list_transform(string_split(cpus, ','), p ->
        |      CASE WHEN contains(p, '-')
        |           THEN range(CAST(string_split(p, '-')[1] AS INTEGER),
        |                      CAST(string_split(p, '-')[2] AS INTEGER) + 1)
        |           ELSE [CAST(p AS INTEGER)] END)) AS bits
        |  FROM c)
        |SELECT doc_id, cpus,
        |  lower(lpad(to_hex(CAST(list_sum(list_transform(bits,
        |    x -> CAST(power(2, x) AS BIGINT))) AS BIGINT)), 16, '0')) AS mask
        |FROM b ORDER BY doc_id""".stripMargin,

    "common_prefix" ->
      """WITH p AS (
        |  SELECT doc_id, 'doc-' || CAST(doc_id AS VARCHAR) AS a,
        |         'doc-' || CAST((doc_id + 1) % 500 AS VARCHAR) AS b
        |  FROM documents)
        |SELECT doc_id,
        |  substr(a, 1, list_max(list_filter(range(0, least(len(a), len(b)) + 1),
        |    i -> substr(a, 1, i) = substr(b, 1, i)))) AS prefix
        |FROM p ORDER BY doc_id""".stripMargin,

    "text_token_count" ->
      s"""SELECT doc_id,
         |  CAST(CASE WHEN trim(text) = '' THEN 0
         |            ELSE len(${wordsSqlOf("text")}) END AS INTEGER) AS n_words,
         |  n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_lang_id" -> {
      def hits(sw: Seq[String]) =
        s"len(list_filter(${wordsSqlOf("text")}, w -> w IN (${sw.map(s => s"'$s'").mkString(",")})))"
      val en = hits(Fns.langStopwords("en"))
      val de = hits(Fns.langStopwords("de"))
      val es = hits(Fns.langStopwords("es"))
      val fr = hits(Fns.langStopwords("fr"))
      s"""SELECT doc_id, CASE
         |  WHEN $en = 0 AND $de = 0 AND $es = 0 AND $fr = 0 THEN 'unknown'
         |  WHEN $en >= $de AND $en >= $es AND $en >= $fr THEN 'en'
         |  WHEN $de >= $es AND $de >= $fr THEN 'de'
         |  WHEN $es >= $fr THEN 'es'
         |  ELSE 'fr' END AS lang_pred
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "dedup_exact" ->
      """WITH g AS (
        |  SELECT substr(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), 1, 16) AS fp,
        |         min(doc_id) AS keep_id, count(*) AS n_members
        |  FROM documents GROUP BY 1)
        |SELECT fp, keep_id, n_members, n_members - 1 AS n_dups
        |FROM g ORDER BY fp""".stripMargin,

    "dedup_ngram_jaccard" -> ngramJaccardSql,

    "dedup_clusters" -> {
      val ws = wordsSqlOf("text")
      s"""WITH RECURSIVE w AS (SELECT doc_id, $ws AS ws FROM documents),
         |sh AS (SELECT doc_id,
         |         list_distinct([array_to_string(ws[i:i+2], ' ')
         |                        for i in range(1, len(ws) - 1)]) AS shs
         |       FROM w WHERE len(ws) >= 3),
         |e AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS s FROM sh),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
         |  HAVING round(count(*)::DOUBLE / (a.n_sh + b.n_sh - count(*)), 4) >= 0.2),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |cc(id, label) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, cc.label FROM edges e JOIN cc ON e.dst = cc.id)
         |SELECT id, min(label) AS cluster_id FROM cc GROUP BY id ORDER BY id""".stripMargin
    },

    "dedup_drop_survivors" -> {
      val ws = wordsSqlOf("text")
      s"""WITH RECURSIVE w AS (SELECT doc_id, $ws AS ws FROM documents),
         |sh AS (SELECT doc_id,
         |         list_distinct([array_to_string(ws[i:i+2], ' ')
         |                        for i in range(1, len(ws) - 1)]) AS shs
         |       FROM w WHERE len(ws) >= 3),
         |e AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS s FROM sh),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
         |  HAVING round(count(*)::DOUBLE / (a.n_sh + b.n_sh - count(*)), 4) >= 0.2),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |cc(id, label) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, cc.label FROM edges e JOIN cc ON e.dst = cc.id),
         |labels AS (SELECT id, min(label) AS cluster_id FROM cc GROUP BY id)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster_id)
         |ORDER BY doc_id""".stripMargin
    },

    "text_subword_count" -> {
      val cls = Fns.subwordDelimClass.replace("'", "''")
      s"""SELECT doc_id,
         |  CAST(len(list_filter(string_split_regex(text, '$cls'), w -> w <> ''))
         |       AS INTEGER) AS n_subwords
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "multimodal_windows" ->
      """WITH d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n
        |  FROM documents WHERE doc_id < 50),
        |w AS (
        |  SELECT doc_id, n,
        |         unnest(range(0, CAST(floor((n - 1) / 32) AS BIGINT) + 1)) AS widx
        |  FROM d WHERE n > 0)
        |SELECT doc_id, CAST(widx AS INTEGER) AS window_idx,
        |       CAST(least(32, n - widx * 32) AS INTEGER) AS win_len
        |FROM w ORDER BY doc_id, window_idx""".stripMargin,

    "dedup_embedding" ->
      """WITH v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |p AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    list_sum(list_transform(range(1, len(a.v) + 1),
        |      i -> a.v[i]::DOUBLE * b.v[i]::DOUBLE)) AS dot,
        |    sqrt(list_sum(list_transform(range(1, len(a.v) + 1),
        |      i -> a.v[i]::DOUBLE * a.v[i]::DOUBLE))) AS na,
        |    sqrt(list_sum(list_transform(range(1, len(b.v) + 1),
        |      i -> b.v[i]::DOUBLE * b.v[i]::DOUBLE))) AS nb
        |  FROM v a JOIN v b ON a.id < b.id)
        |SELECT id_a, id_b, round(dot / (na * nb), 4) AS cosine
        |FROM p WHERE round(dot / (na * nb), 4) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    "ann_bruteforce_topk" -> bruteForceAnnSql,

    // exact-equality oracle for the exhaustive-degenerate IVF case:
    // nprobe = nlist probes every list, so the result IS brute force
    "ann_ivf_exhaustive" -> bruteForceAnnSql,
    // 1 hyperplane + 2 probes covers both buckets -> exhaustive (see query)
    "ann_lsh_exhaustive" -> bruteForceAnnSql,

    "archive_explode" ->
      """SELECT doc_id % 10 AS zip_id,
        |  'doc' || CAST(doc_id AS VARCHAR) || '.txt' AS entry_name,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
        |FROM documents WHERE doc_id < 200
        |ORDER BY zip_id, entry_name""".stripMargin,

    "pptx_slide_text" ->
      """SELECT CAST(floor(doc_id / 4) AS BIGINT) AS deck_id,
        |  CAST(doc_id % 4 + 1 AS INTEGER) AS slide_idx,
        |  text AS slide_text
        |FROM documents WHERE doc_id < 40
        |ORDER BY deck_id, slide_idx""".stripMargin,

    "multimodal_archive" ->
      """SELECT doc_id % 10 AS archive_id, 'zip' AS format,
        |  CAST(count(*) AS INTEGER) AS n_parts
        |FROM documents WHERE doc_id < 200
        |GROUP BY 1 ORDER BY archive_id""".stripMargin,

    "multimodal_features" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  CASE CAST(octet_length(encode(text)) % 3 AS INTEGER)
        |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    "join_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |           (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
        |       AS DECIMAL(28,4)) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "window_topk_per_user" ->
      """SELECT user_id, event_id, value, CAST(rnk AS INTEGER) AS rnk FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY value DESC, event_id ASC) AS rnk
        |  FROM events)
        |WHERE rnk <= 3 ORDER BY user_id, rnk""".stripMargin,

    "agg_events_daily" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    "agg_rollup_docs" ->
      """SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY ROLLUP (lang, source)
        |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin,

    "set_except_docs" ->
      """SELECT doc_id FROM documents WHERE lang = 'en'
        |EXCEPT
        |SELECT doc_id FROM documents WHERE source = 'src0'
        |ORDER BY doc_id""".stripMargin,

    "window_sessionize" ->
      """WITH gapped AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT)
        |              - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM gapped),
        |sess AS (
        |  SELECT user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin,

    "text_quality" -> {
      val ws = wordsSqlOf("text")
      val alpha = "length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE"
      val punct = "length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE"
      val nw = s"(CASE WHEN trim(text) = '' THEN 0 ELSE len($ws) END)"
      val sw = Fns.langStopwords("en").map(s => s"'$s'").mkString(",")
      val swHits = s"len(list_filter($ws, w -> w IN ($sw)))::DOUBLE"
      def t4(x: String) = s"floor(($x) * 10000) / 10000"
      val alphaRatio = t4(s"$alpha / greatest(length(text)::DOUBLE, 1.0)")
      val swRatio = t4(s"$swHits / greatest($nw::DOUBLE, 1.0)")
      s"""SELECT doc_id,
         |  CAST(length(text) AS INTEGER) AS n_chars,
         |  CAST($nw AS INTEGER) AS n_words,
         |  $alphaRatio AS alpha_ratio,
         |  ${t4(s"$punct / greatest(length(text)::DOUBLE, 1.0)")} AS punct_ratio,
         |  ${t4(s"$alpha / greatest($nw::DOUBLE, 1.0)")} AS mean_word_len,
         |  $swRatio AS stopword_ratio,
         |  ${t4(s"least(1.0, ($alphaRatio) * 0.5 + least($nw::DOUBLE / 100.0, 1.0) * 0.3 + least(($swRatio) * 5.0, 1.0) * 0.2)")}
         |    AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    }
  )
}
