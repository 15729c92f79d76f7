package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType
import graft.sim.EmbeddingOps.IncrArrival

/** Structured Streaming surface — the capability extension over the
  * reference's batch-only truncate-and-reload (SURVEY.md §2.7): the same
  * logical transforms, applied incrementally.
  *
  * Each job is written against a plain DataFrame so the identical code
  * path serves batch (for the oracle gate) and streaming (readStream /
  * MemoryStream in the specs): watermarked windowed rollups, stream⨝static
  * fact append, and stateful gap sessionization.
  */
object Streams {

  /** The replay harness every gated `*Streamed` query runs through: one
    * instance per run, whose scratch dirs share one `Scratch.tempDir`
    * (the returned DataFrames read from them lazily, so they are deleted
    * at JVM exit, not on return):
    *  - `in`: the staged shards;
    *  - `out`: the parquet append sink, or an apply's own output;
    *  - `state`: the store a foreachBatch apply folds into;
    *  - `idx`: the index an apply maintains.
    *
    * A run stages its shards ([[stage]]) or opens a source staged
    * elsewhere ([[open]]), then drains the stream once under
    * `Trigger.AvailableNow`, into a foreachBatch apply ([[fold]]) or a
    * parquet append sink ([[sink]]). Every source is read one file per
    * micro-batch, so each staged shard is its own batch, in staging
    * order: a pair, an ownership transfer or a tombstone that spans two
    * shards can only come from the cross-batch state the gate proves.
    */
  private[graft] final class Replay(spark: SparkSession, tag: String) {
    private val base = graft.Scratch.tempDir(tag)
    private def sub(n: String) = base.resolve(n).toString
    val in: String = sub("in")
    val out: String = sub("out")
    val state: String = sub("state")
    val idx: String = sub("idx")

    /** The file stream over `path`, one file per micro-batch. */
    def open(path: String, schema: StructType,
        format: String = "parquet"): DataFrame =
      spark.readStream.format(format).schema(schema)
        .option("maxFilesPerTrigger", "1").load(path)

    /** Writes each shard as one parquet file under `name` (default `in`)
      * and opens the stream over them, under the shards' own schema. The
      * file source orders files by mtime, so the mtimes are set a minute
      * apart in staging order: shard i is micro-batch i.
      */
    def stage(shards: Seq[DataFrame], name: String = "in"): DataFrame = {
      val dest = java.nio.file.Files.createDirectories(base.resolve(name))
      val t0 = System.currentTimeMillis()
      shards.zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.mode("overwrite").parquet(sub("stage"))
        val part = new java.io.File(sub("stage")).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath, dest.resolve(f"$i%03d.parquet"))
          .toFile.setLastModified(t0 + i * 60000L): Unit
      }
      open(dest.toString, shards.head.schema)
    }

    /** Drains `stream`, handing each micro-batch and its id to `each`. */
    def fold(stream: DataFrame)(each: (DataFrame, Long) => Unit): Unit =
      drain(stream.writeStream.foreachBatch(each))

    /** Drains `stream` into the parquet append sink at `out` and reads
      * the sink back as a batch frame.
      */
    def sink(stream: DataFrame, partitionBy: String*): DataFrame = {
      drain(stream.writeStream.outputMode("append").format("parquet")
        .partitionBy(partitionBy: _*).option("path", out))
      spark.read.parquet(out)
    }

    private def drain(w: DataStreamWriter[Row]): Unit =
      w.option("checkpointLocation", sub("cp"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
  }

  /** Two shards split on the parity of `key`. */
  private def parity(df: DataFrame, key: Column): Seq[DataFrame] =
    Seq(df.filter(key % 2 === 0), df.filter(key % 2 === 1))

  /** The documents table as parity shards on doc id, for the doc-stream
    * gates (which may call the native text functions).
    */
  private def docShards(spark: SparkSession, dir: String,
      cols: Seq[String] = Seq("CAST(doc_id AS BIGINT) AS doc_id", "text", "lang"))
      : Seq[DataFrame] = {
    graft.functions.GraftFunctions.register(spark)
    parity(graft.Tables.documents(spark, dir).selectExpr(cols: _*), col("doc_id"))
  }

  /** The (doc_id, text) columns most doc-stream gates read. */
  private val DocText = Seq("CAST(doc_id AS BIGINT) AS doc_id", "text")

  /** Hourly windowed rollup of events — streaming twin of
    * RelationalOps.eventsHourly. On a stream, the 1-hour tumbling window +
    * 10-minute watermark bound state; late rows beyond the watermark drop.
    */
  def hourlyRollup(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "10 minutes")
              else events
    src.groupBy(window(col("ts"), "1 hour").as("janela"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("soma_valor"))
      .select(col("janela.start").as("hora"), col("event_type"), col("n"),
        col("soma_valor"))
  }

  /** Incremental fact append: a stream of order lines joined against the
    * (static, broadcast) dimension tables — replaces the reference's full
    * truncate-reload (S5) with append-only ingestion. Stream⨝static joins
    * need no watermark and never shuffle the static side.
    */
  def factAppend(lines: DataFrame, dimProduto: DataFrame): DataFrame =
    lines
      .join(broadcast(dimProduto.select("sk_produto", "id_produto_original")),
        lines("product_id") === col("id_produto_original"), "left")
      .select(col("line_id"), col("sk_produto"),
        col("qty").cast("decimal(9,0)").as("qtd_vendida"),
        (col("price").cast("decimal(18,2)") * col("qty").cast("decimal(9,0)"))
          .cast("decimal(18,2)").as("valor_total"))

  /** Streaming exact dedup: drop replayed events by id within the
    * watermark horizon — the incremental form of the batch exact-dedup
    * operator (at-least-once sources → exactly-once facts). State is
    * bounded by the watermark: ids older than the horizon are evicted.
    */
  def dedupStream(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour")
              else events
    src.dropDuplicates("event_id", "ts")
  }

  /** Stream-stream interval join: attribute each purchase to clicks by the
    * same user within the preceding hour. Both sides are watermarked so
    * Spark can bound the join state — click state is kept only as long as
    * a matching purchase could still arrive (the event-time constraint +
    * watermark give the eviction rule). The batch/as-of twin is
    * RelationalOps.asofAttribution.
    */
  def attributionStream(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val p = purchases.withWatermark("ts", "10 minutes").alias("p")
    val c = clicks.withWatermark("ts", "70 minutes").alias("c")
    p.join(c, expr(
      """p.user_id = c.user_id AND
        |c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts""".stripMargin))
      .select(col("p.event_id").as("purchase_id"),
        col("p.user_id").as("user_id"),
        col("c.event_id").as("click_id"),
        col("p.ts").as("ts_compra"), col("c.ts").as("ts_click"))
  }

  /** LEFT OUTER stream-stream interval join: like [[attributionStream]]
    * but purchases with NO in-window click still emit — with null click
    * columns — once the watermark proves no matching click can arrive.
    * This is the streaming form of the batch left join: the null row
    * cannot be emitted eagerly (a match may still come), so Spark holds
    * the unmatched purchase in state until the click watermark passes its
    * join window, then releases it. State stays watermark-bounded on both
    * sides, exactly as in the inner form.
    */
  def attributionStreamOuter(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val p = purchases.withWatermark("ts", "10 minutes").alias("p")
    val c = clicks.withWatermark("ts", "70 minutes").alias("c")
    p.join(c, expr(
      """p.user_id = c.user_id AND
        |c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts""".stripMargin),
      "leftOuter")
      .select(col("p.event_id").as("purchase_id"),
        col("p.user_id").as("user_id"),
        col("c.event_id").as("click_id"),
        col("p.ts").as("ts_compra"), col("c.ts").as("ts_click"))
  }

  /** FULL OUTER stream-stream interval join — the last cell of the
    * join-mode matrix: unmatched purchases AND unmatched clicks both
    * emit (null far-side columns) once the OTHER side's watermark
    * proves no match can arrive. An unmatched click is held until the
    * purchase watermark passes the click's forward join window
    * (purchases up to ts_click + 1h could still match), symmetric to
    * the unmatched-purchase case — state stays watermark-bounded on
    * both sides.
    */
  def attributionStreamFull(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val p = purchases.withWatermark("ts", "10 minutes").alias("p")
    val c = clicks.withWatermark("ts", "70 minutes").alias("c")
    p.join(c, expr(
      """p.user_id = c.user_id AND
        |c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts""".stripMargin),
      "fullOuter")
      .select(col("p.event_id").as("purchase_id"),
        coalesce(col("p.user_id"), col("c.user_id")).as("user_id"),
        col("c.event_id").as("click_id"),
        col("p.ts").as("ts_compra"), col("c.ts").as("ts_click"))
  }

  /** The streamed interval-join attribution as a gated batch-comparable
    * query: runs [[attributionStream]] (INNER stream-stream interval join,
    * both sides watermarked) as a real streaming job over the events
    * table, file sources → parquet sink under `Trigger.AvailableNow`.
    *
    * Unlike the sessionizer, no sentinels are needed: an inner
    * stream-stream join emits a pair the moment both rows are in state —
    * the watermark only bounds state EVICTION, never gates emission — so
    * with each side staged as one file (a single micro-batch processes
    * both sources' offsets, watermark still at epoch) every qualifying
    * pair is emitted and the streamed output equals the batch interval
    * join the DuckDB oracle computes.
    */
  def attributionStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_attr_stream")
    val ev = attributionEvents(spark, dir)
    r.sink(attributionStream(
        r.stage(Seq(ev.filter(col("event_type") === "purchase")), "p"),
        r.stage(Seq(ev.filter(col("event_type") === "click")), "c")))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        date_format(col("ts_compra"), "yyyy-MM-dd HH:mm:ss").as("ts_compra"),
        date_format(col("ts_click"), "yyyy-MM-dd HH:mm:ss").as("ts_click"))
      .orderBy("purchase_id", "click_id")
  }

  /** The events columns the attribution joins read. */
  private def attributionEvents(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir).select(
      col("event_id").cast("long").as("event_id"), col("ts"),
      col("user_id").cast("long").as("user_id"), col("event_type"))

  /** Shared two-sided staging + run for the outer/full attribution
    * forms: purchase and click file sources, each with the +72/+150 min
    * sentinel schedule. Spark maintains ONE global watermark — the MIN
    * over every watermarked input — so sentinels must go to BOTH sides:
    * the +72 pair advances that global minimum past every real row's
    * join window (the click delay is 70 min, so +72 clears every real
    * ts; without purchase-side sentinels the purchase input would pin
    * the global min at its last real row forever), and the +150 pair
    * supplies a later data batch in which state eviction actually runs
    * (eviction uses the watermark computed at the END of the previous
    * batch). The final unmatched-row flush can also ride the trailing
    * no-data micro-batch, so the run PINS
    * spark.sql.streaming.noDataMicroBatches.enabled=true rather than
    * inheriting whatever the session default was — with it disabled and
    * no further data, rows whose eviction is proven only by the last
    * batch's watermark would silently never emit.
    * Returns the raw sink parquet; callers project/coalesce per form.
    */
  private def attributionStagedRun(spark: SparkSession, dir: String,
      tag: String,
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import spark.implicits._
    // see doc comment: the unmatched-row flush of the outer forms may be
    // carried by the trailing no-data micro-batch — guarantee it exists
    // for THIS run only; the prior session value is restored on exit so
    // the setting never leaks into later queries on the shared session
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val ndPrior = spark.conf.getOption(ndKey)
    spark.conf.set(ndKey, "true")
    try {
      val r = new Replay(spark, tag)
      val ev = attributionEvents(spark, dir)
      val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
      def side(kind: String, uid: Long) = r.stage(
        ev.filter(col("event_type") === kind) +: Seq(72, 150).map(offsetMin =>
          Seq((uid, new java.sql.Timestamp(maxTs.getTime + offsetMin * 60000L),
            uid, kind)).toDF("event_id", "ts", "user_id", "event_type")),
        kind)
      r.sink(join(side("purchase", -2L), side("click", -1L)))
    } finally ndPrior match {
      case Some(v) => spark.conf.set(ndKey, v)
      case None    => spark.conf.unset(ndKey)
    }
  }

  /** The streamed LEFT OUTER interval join, gated: like
    * [[attributionStreamed]] but unmatched purchases must ALSO emit (null
    * click columns) — which a stream can only do once the watermark proves
    * no matching click can still arrive. Two mechanics beyond the inner
    * form:
    *
    *  - the global watermark is the MIN over BOTH watermarked sources, so
    *    far-future sentinel rows go to EACH side (negative user_ids, which
    *    can never join a real row and are filtered from the output): the
    *    first sentinel batch advances both sides' watermarks past every
    *    real purchase's join window, the second gives the join a batch in
    *    which eviction runs and the null rows flush — without the purchase
    *    sentinels the purchase-side watermark would pin the global one
    *    10 minutes behind the last real purchase forever;
    *  - nullable outputs are COALESCEd to sentinels (click_id → -1,
    *    ts_click → 1900-01-01) in both engines, keeping the compare and
    *    the total ordering null-free.
    */
  def attributionStreamedOuter(spark: SparkSession, dir: String): DataFrame =
    attributionStagedRun(spark, dir, "graft_attro_stream",
      attributionStreamOuter)
      .filter(col("user_id") >= 0)
      .select(col("purchase_id"), col("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        date_format(col("ts_compra"), "yyyy-MM-dd HH:mm:ss").as("ts_compra"),
        coalesce(date_format(col("ts_click"), "yyyy-MM-dd HH:mm:ss"),
          lit("1900-01-01 00:00:00")).as("ts_click"))
      .orderBy("purchase_id", "click_id")

  /** The FULL OUTER form gated: [[attributionStagedRun]] with
    * [[attributionStreamFull]] — both directions of unmatched row must
    * flush (purchase wm = maxTs+62 min > last click + 1 h; click wm =
    * maxTs+2 min > last purchase). All nullable outputs COALESCE to
    * sentinels so the compare and ordering stay null-free; unmatched
    * clicks sort under purchase_id = −1, keyed by click_id.
    */
  def attributionStreamedFull(spark: SparkSession, dir: String): DataFrame =
    attributionStagedRun(spark, dir, "graft_attrf_stream",
      attributionStreamFull)
      .filter(col("user_id") >= 0)
      .select(coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        col("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(date_format(col("ts_compra"), "yyyy-MM-dd HH:mm:ss"),
          lit("1900-01-01 00:00:00")).as("ts_compra"),
        coalesce(date_format(col("ts_click"), "yyyy-MM-dd HH:mm:ss"),
          lit("1900-01-01 00:00:00")).as("ts_click"))
      .orderBy("purchase_id", "click_id")

  /** One (band key, doc) row of the streamed LSH index (public for
    * codegen).
    */
  final case class BandedDoc(band: String, doc_id: Long)
  /** Per-band-key state: every doc id seen in this band so far — the
    * incremental form of the batch LSH index (public for codegen).
    */
  final case class BandSeen(ids: Seq[Long])
  /** An emitted candidate pair, doc_a < doc_b (public for codegen). */
  final case class BandPair(doc_a: Long, doc_b: Long)

  /** Streamed MinHash-LSH near-dup candidate generation: each arriving
    * document's band keys probe a per-band state holding every doc id
    * seen in that band, and a candidate pair is emitted the MOMENT the
    * later of the two docs arrives — the incremental twin of the batch
    * band-key self-join (graft.text.TextOps.minhashLsh), for training-data
    * ingest where the corpus arrives continuously and re-running batch
    * dedup per increment would be O(corpus) each time.
    *
    * Emission needs no watermark (a pair exists as soon as both docs are
    * in state, exactly like an inner join); each unordered pair is
    * emitted at most once per band, because only the LATER doc pairs with
    * the earlier ones (new docs pair against seen-state plus the
    * earlier-sorted news of the same batch). State is the seen-corpus
    * band index itself — keyed BY band value it shards across executors,
    * and its total size is O(corpus × bands), the same footprint the
    * batch join shuffles, held incrementally instead of rebuilt per run.
    */
  def lshPairsStream(banded: Dataset[BandedDoc]): Dataset[BandPair] = {
    import banded.sparkSession.implicits._
    banded.groupByKey(_.band)
      .flatMapGroupsWithState[BandSeen, BandPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[BandSeen]) =>
          val out = Seq.newBuilder[BandPair]
          var seen = state.getOption.map(_.ids).getOrElse(Seq.empty)
          // membership check makes replays idempotent: an at-least-once
          // source re-delivering a doc must not re-emit its pairs
          it.map(_.doc_id).toSeq.distinct.sorted.foreach { d =>
            if (!seen.contains(d)) {
              seen.foreach(o =>
                out += (if (o < d) BandPair(o, d) else BandPair(d, o)))
              seen = seen :+ d
            }
          }
          state.update(BandSeen(seen))
          out.result().iterator
      }
  }

  /** JSONL corpus ingestion as a stream: the staged `.jsonl.gz` shards
    * ARE the stream source (`maxFilesPerTrigger=1` → one micro-batch per
    * shard — the shard-lands-in-a-bucket deployment shape), read
    * schema-directed and flattened by the IDENTICAL
    * [[graft.etl.JsonlStage.flatten]] kernel as the batch gate, so wire
    * semantics cannot drift. Ingestion is stateless per line, so the
    * streamed result must equal batch q_ingest_jsonl row-for-row; same
    * parquet oracle.
    */
  def ingestJsonlStreamed(spark: SparkSession, dir: String): DataFrame = {
    import graft.etl.JsonlStage
    val staged = JsonlStage.stage(spark, dir)
    val r = new Replay(spark, "graft_jsonl_stream")
    r.sink(JsonlStage.flatten(r.open(s"$staged/documents.jsonl",
      StructType.fromDDL(JsonlStage.stagedDdl(staged)), "json"))).orderBy("doc_id")
  }

  /** ORC ingest under streaming arrivals: the same multi-shard ORC
    * staging ([[graft.etl.OrcStage.stage]]) consumed as a file stream,
    * one micro-batch per shard — a backfill stream over a lakehouse's
    * existing ORC holdings must land the identical rows as the batch
    * read (same parquet oracle as q_ingest_orc).
    */
  def ingestOrcStreamed(spark: SparkSession, dir: String): DataFrame = {
    import graft.etl.OrcStage
    val staged = s"${OrcStage.stage(spark, dir)}/documents.orc"
    val r = new Replay(spark, "graft_orc_stream")
    r.sink(r.open(staged, spark.read.orc(staged).schema, "orc"))
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text", "lang",
        "source", "CAST(n_chars AS BIGINT) AS n_chars")
      .orderBy("doc_id")
  }

  /** Schema evolution under streaming arrivals: the mixed-generation
    * shard history ([[graft.etl.EvolveStage.stage]]) read as a file
    * stream under the CONTRACT schema — a backfill stream consuming
    * heterogeneous shard vintages must null-fill the columns old
    * producers lacked exactly like the batch read (parquet by-name
    * resolution is per file, so per-micro-batch arrival changes
    * nothing). Same oracle as q_evolve_schema.
    */
  def evolveSchemaStreamed(spark: SparkSession, dir: String): DataFrame = {
    import graft.etl.EvolveStage
    val staged = EvolveStage.stage(spark, dir)
    val r = new Replay(spark, "graft_evolve_stream")
    r.sink(r.open(s"$staged/{gen1,gen2}", StructType.fromDDL(EvolveStage.UnifiedDdl)))
      .orderBy("doc_id")
  }

  /** The multimodal decode as a streamed twin: media payloads arrive in
    * micro-batches (two-file staging — half the corpus per batch, the
    * cross-batch discipline of every doc-stream gate), each batch runs
    * the IDENTICAL ingest+real-codec kernel as the batch gate
    * ([[graft.multimodal.Multimodal.decodeWavRows]] — shared, cannot
    * drift), append-sinked exactly once. Decode is stateless per row, so
    * the streamed result must equal the batch result row-for-row; same
    * DuckDB oracle as q_multimodal_decode_wav.
    */
  def multimodalDecodeWavStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_wavdec_stream")
    r.sink(graft.multimodal.Multimodal.decodeWavRows(r.stage(
      docShards(spark, dir, Seq("CAST(doc_id AS BIGINT) AS doc_id")))))
      .orderBy("media_id")
  }

  /** The perceptual-hash kernel as a streamed twin: image payloads arrive
    * in micro-batches, each batch runs the IDENTICAL real-PNG ingest +
    * decode + aHash-band kernel as the batch gate
    * ([[graft.multimodal.Multimodal.phashRows]] — shared, cannot drift);
    * the magic join and final shaping run on the batch read of the sink.
    * Hashing is stateless per row, so stream ≡ batch row-for-row; same
    * DuckDB oracle as q_multimodal_phash (minus magic — the sink carries
    * only the hash columns, so the twin re-pins the BANDS, the part a
    * streamed index feed actually ships).
    */
  def multimodalPhashStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_phash_stream")
    r.sink(graft.multimodal.Multimodal.phashRows(r.stage(
        docShards(spark, dir, Seq("CAST(doc_id AS BIGINT) AS doc_id"))))
      .selectExpr("media_id", "CAST(largura AS INT) AS largura",
        "CAST(altura AS INT) AS altura",
        "CAST(b0 AS INT) AS b0", "CAST(b1 AS INT) AS b1",
        "CAST(b2 AS INT) AS b2", "CAST(b3 AS INT) AS b3"))
      .orderBy("media_id")
  }

  /** [[lshPairsStream]] as a gated batch-comparable query (see
    * [[Replay]] for the two-file cross-batch mechanics),
    * against the very same DuckDB oracle as the batch
    * q_dedup_minhash_lsh — signature kernel and band-key template are
    * shared (graft.text.TextOps.lshBandsExpr), so stream and batch
    * cannot drift. Post-shape: the emitted per-band pairs aggregate to
    * (doc_a, doc_b, n_bands) in a follow-up batch read of the sink — the
    * standard two-stage shape for a streamed index feed.
    */
  def dedupMinhashStreamed(spark: SparkSession, dir: String): DataFrame =
    lshDocPairsStreamed(spark, dir, "graft_lsh_stream")
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_bands"))
      .orderBy("doc_a", "doc_b")

  /** The per-band pairs [[lshPairsStream]] emits over the parity-staged
    * documents, read back from the sink.
    */
  private def lshDocPairsStreamed(spark: SparkSession, dir: String,
      tag: String): DataFrame = {
    import spark.implicits._
    val T = graft.text.TextExprs.tokens("text")
    val r = new Replay(spark, tag)
    r.sink(lshPairsStream(r.stage(docShards(spark, dir))
      .selectExpr("doc_id", s"${T.spark} AS toks")
      .selectExpr("doc_id", "shingle_minhashes(toks, 3, 8) AS mh")
      .selectExpr("doc_id", s"${graft.text.TextOps.lshBandsExpr} AS bands")
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_idx", "bkey")))
      .selectExpr("concat(CAST(band_idx AS STRING), '|', bkey) AS band", "doc_id")
      .as[BandedDoc]).toDF())
  }

  /** The leakage-safe split maintained under streaming arrivals: the
    * stateful band index ([[lshPairsStream]]) accumulates near-dup
    * edges incrementally as docs arrive (cross-batch pairs can only
    * come from state — the two-file staging forces them through it);
    * the assignment read then closes components over the accumulated
    * edge set and applies the SAME deterministic hash-split tail as the
    * batch form (graft.text.TextOps.splitAssign — shared kernel, cannot
    * drift). Determinism of the split rule (a pure function of the
    * canonical id) is what makes incremental maintenance sound:
    * a singleton's assignment never changes, and a doc's split moves
    * only when its cluster gains a lower canonical — exactly the merge
    * events the band index emits. Converges to the batch
    * q_split_leakage_safe; same oracle.
    */
  def splitLeakageSafeStreamed(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.splitAssign(
      graft.Tables.documents(spark, dir)
        .selectExpr("CAST(doc_id AS BIGINT) AS doc_id"),
      graft.text.TextOps.componentsOf(
        lshDocPairsStreamed(spark, dir, "graft_split_stream")
          .select("doc_a", "doc_b").distinct()))

  /** One (pigeonhole band key, doc, signature) row of the streamed
    * SimHash index (public for codegen).
    */
  final case class BandedSig(band: String, doc_id: Long, sig: Long)
  /** Per-band state: every (doc, signature) seen in this band (public for
    * codegen).
    */
  final case class SigSeen(docs: Seq[BandedSig])
  /** A VERIFIED near-dup pair, doc_a < doc_b, hamming ≤ maxHamming
    * (public for codegen).
    */
  final case class SimPair(doc_a: Long, doc_b: Long, hamming: Int)

  /** Streamed SimHash64 near-dup detection — the VERIFIED counterpart of
    * [[lshPairsStream]]: band state carries each doc's full 64-bit
    * signature, so exact hamming (Long.bitCount of the xor) is checked at
    * emission and only true near-dups (≤ maxHamming) leave the operator —
    * candidates never hit disk. A qualifying pair can share several
    * untouched bands and so emit from several band groups; the follow-up
    * batch read dedups, mirroring the batch pipeline's `distinct()`.
    * Replays are idempotent (membership check), and state is the
    * seen-corpus band index sharded by the 2¹⁶-value band key.
    */
  def simhashPairsStream(banded: Dataset[BandedSig],
      maxHamming: Int = 3): Dataset[SimPair] = {
    import banded.sparkSession.implicits._
    banded.groupByKey(_.band)
      .flatMapGroupsWithState[SigSeen, SimPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[SigSeen]) =>
          val out = Seq.newBuilder[SimPair]
          var seen = state.getOption.map(_.docs).getOrElse(Seq.empty)
          it.toSeq.distinct.sortBy(_.doc_id).foreach { d =>
            if (!seen.exists(_.doc_id == d.doc_id)) {
              seen.foreach { o =>
                val h = java.lang.Long.bitCount(o.sig ^ d.sig)
                if (h <= maxHamming)
                  out += (if (o.doc_id < d.doc_id) SimPair(o.doc_id, d.doc_id, h)
                          else SimPair(d.doc_id, o.doc_id, h))
              }
              seen = seen :+ d
            }
          }
          state.update(SigSeen(seen))
          out.result().iterator
      }
  }

  /** [[simhashPairsStream]] as a gated batch-comparable query (see
    * [[Replay]] for the two-file cross-batch mechanics):
    * signature from the same native SimHash64 BIGINT kernel and the same
    * shift/mask band-key template as the batch pipeline
    * (graft.text.TextOps.simhashBandExpr — one source, no drift), gated
    * against the SAME DuckDB oracle as q_dedup_simhash64.
    */
  def dedupSimhashStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val T = graft.text.TextExprs.tokens("text")
    val chaves = (0 until 4)
      .map(j => s"concat('$j', '|', CAST(${graft.text.TextOps.simhashBandExpr("sig", j)} AS STRING))")
      .mkString("array(", ", ", ")")
    val r = new Replay(spark, "graft_sim_stream")
    r.sink(simhashPairsStream(r.stage(docShards(spark, dir))
        .selectExpr("doc_id", s"${T.spark} AS toks")
        .selectExpr("doc_id", "simhash64(toks) AS sig")
        .selectExpr("doc_id", "sig", s"$chaves AS bands")
        .select(col("doc_id"), col("sig"), explode(col("bands")).as("band"))
        .select(col("band"), col("doc_id"), col("sig")).as[BandedSig]).toDF())
      .distinct()
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int"))
      .orderBy("doc_a", "doc_b")
  }

  /** One (prefix-shingle band key, doc, sorted shingle ids) row of the
    * streamed SSJoin index (public for codegen).
    */
  final case class PrefixDoc(band: String, doc_id: Long, shd: Seq[Long], n: Int)
  /** Per-band state: every (doc, shingles) whose PREFIX contained this
    * band's shingle (public for codegen).
    */
  final case class PrefixSeen(docs: Seq[PrefixDoc])
  /** A VERIFIED near-dup pair, doc_a < doc_b, exact Jaccard ≥ threshold
    * (public for codegen).
    */
  final case class JacPair(doc_a: Long, doc_b: Long, jaccard: Double)

  /** Streamed prefix-filtered set-similarity join — the incremental twin
    * of the batch Bayardo/Chaudhuri SSJoin (graft.text.TextOps
    * .jaccardPairs): each arriving doc is routed to one state group per
    * PREFIX shingle, probes the docs already indexed there, and exact
    * Jaccard (linear merge over the sorted shingle arrays, the same
    * arithmetic as the batch SortedInterCount kernel) is verified AT
    * emission — only true near-dups leave the operator.
    *
    * The stream can't use the batch form's df-ascending prefix order (df
    * evolves as the corpus arrives; a prefix computed today would be
    * wrong tomorrow). It uses the shingle-hash ascending order instead —
    * the prefix-filter theorem holds for ANY fixed global order on the
    * universe, and hash order is corpus-independent, so the same doc
    * always has the same prefix no matter when it arrives. df-ordering is
    * only the candidate-count optimization; both orders verify exactly,
    * so batch and stream emit the SAME pairs (one oracle gates both).
    *
    * State footprint: each doc's shingle array is held once per prefix
    * shingle — O(prefix × |shd|) per doc, the price of self-contained
    * verification at emission (the batch form re-joins a doc store
    * instead; a serving deployment would too). A pair sharing several
    * prefix shingles emits from several groups; the follow-up batch read
    * dedups, mirroring the batch pipeline's `distinct()`.
    */
  def jaccardPairsStream(pre: Dataset[PrefixDoc],
      threshold: Double = 0.5): Dataset[JacPair] = {
    import pre.sparkSession.implicits._
    pre.groupByKey(_.band)
      .flatMapGroupsWithState[PrefixSeen, JacPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[PrefixSeen]) =>
          def inter(a: Array[Long], b: Array[Long]): Int = {
            var i = 0; var j = 0; var c = 0
            while (i < a.length && j < b.length) {
              if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
              else if (a(i) < b(j)) i += 1
              else j += 1
            }
            c
          }
          val out = Seq.newBuilder[JacPair]
          var seen = state.getOption.map(_.docs).getOrElse(Seq.empty)
          it.toSeq.distinct.sortBy(_.doc_id).foreach { d =>
            if (!seen.exists(_.doc_id == d.doc_id)) {
              val da = d.shd.toArray
              seen.foreach { o =>
                val c = inter(o.shd.toArray, da)
                val jac = c.toDouble / (o.n + d.n - c).toDouble
                if (jac >= threshold)
                  out += (if (o.doc_id < d.doc_id) JacPair(o.doc_id, d.doc_id, jac)
                          else JacPair(d.doc_id, o.doc_id, jac))
              }
              seen = seen :+ d
            }
          }
          state.update(PrefixSeen(seen))
          out.result().iterator
      }
  }

  /** [[jaccardPairsStream]] as a gated batch-comparable query (see
    * [[Replay]] for the two-file cross-batch mechanics): same
    * shingle identities (native shingle_hashes kernel), same (lang,
    * token-bucket) blocking embedded in the band key, same exact-Jaccard
    * threshold — gated against the SAME DuckDB oracle as the batch
    * q_dedup_jaccard, which builds the full inverted index independently.
    */
  def dedupJaccardStreamed(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val T = graft.text.TextExprs.tokens("text")
    val r = new Replay(spark, "graft_jac_stream")
    r.sink(jaccardPairsStream(r.stage(docShards(spark, dir))
        .selectExpr("doc_id", "lang", s"${T.spark} AS toks")
        .selectExpr("doc_id", "lang", "shingle_hashes(toks, 3) AS shd",
          "CAST(floor(size(toks) / 20) AS INT) AS bucket")
        // shd is sorted ascending, so the hash-order prefix is a slice
        .selectExpr("doc_id", "lang", "bucket", "shd", "size(shd) AS n",
          s"slice(shd, 1, CAST(size(shd) - ceil(size(shd) * $threshold) + 1 AS INT)) AS pref")
        .select(col("doc_id"), col("lang"), col("bucket"), col("shd"),
          col("n"), explode(col("pref")).as("s"))
        .selectExpr(
          "concat(CAST(s AS STRING), '|', lang, '|', CAST(bucket AS STRING)) AS band",
          "doc_id", "shd", "CAST(n AS INT) AS n")
        .as[PrefixDoc], threshold).toDF())
      .distinct()
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** One rolling-window occurrence (public for codegen). */
  final case class WinOcc(h: Long, doc_id: Long, pos: Int)
  /** Per-window-hash state: the current OWNER — the minimal (doc, pos)
    * occurrence seen so far (public for codegen).
    */
  final case class WinOwner(doc_id: Long, pos: Int)
  /** An emitted non-owner (to-cut) occurrence (public for codegen). */
  final case class CutWin(doc_id: Long, pos: Int)

  /** Streamed EXACT-SUBSTRING dedup — the incremental twin of the batch
    * passage-cut relation (graft.text.TextOps.passageClean's ownership
    * rule): state per window hash holds the minimal (doc, pos) occurrence
    * seen so far, and every OTHER occurrence of that window emits as a
    * cut position the moment it arrives. When an EARLIER occurrence
    * arrives after a later one was provisionally stored (cross-batch
    * arrival out of (doc, pos) order — forced here by the parity-split
    * staging), ownership transfers and the superseded former owner is
    * emitted retroactively, so the converged emission set is exactly the
    * batch rule's "all occurrences minus the global first" regardless of
    * arrival order. State is O(distinct windows) × 16 bytes — the
    * incremental form of the batch count-window shuffle.
    *
    * Replay note: a re-delivered non-owner occurrence would re-emit its
    * cut row (state keeps only the owner, not the emitted set); the
    * sink-side distinct() in the gated shaping absorbs it, the same
    * at-least-once posture as the other streamed dedup forms.
    */
  def passageCutStream(wins: Dataset[WinOcc]): Dataset[CutWin] = {
    import wins.sparkSession.implicits._
    wins.groupByKey(_.h)
      .flatMapGroupsWithState[WinOwner, CutWin](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[WinOwner]) =>
          val out = Seq.newBuilder[CutWin]
          var owner = state.getOption
          it.toSeq.map(w => (w.doc_id, w.pos)).distinct.sorted.foreach {
            case (d, p) =>
              owner match {
                case None => owner = Some(WinOwner(d, p))
                case Some(o) if d == o.doc_id && p == o.pos => // replay of the owner
                case Some(o) if d < o.doc_id || (d == o.doc_id && p < o.pos) =>
                  out += CutWin(o.doc_id, o.pos) // retroactive transfer
                  owner = Some(WinOwner(d, p))
                case Some(_) => out += CutWin(d, p)
              }
          }
          owner.foreach(o => state.update(o))
          out.result().iterator
      }
  }

  /** [[passageCutStream]] as a gated batch-comparable query: same
    * window_hashes kernel identities and the same first-(doc, pos)
    * ownership rule as q_passage_clean's cut relation — gated against a
    * DuckDB oracle that recomputes occurrence counts and ranks over the
    * full corpus.
    */
  def dedupPassageStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val T = graft.text.TextExprs.tokens("text")
    val r = new Replay(spark, "graft_passage_stream")
    r.sink(passageCutStream(r.stage(docShards(spark, dir))
        .selectExpr("doc_id", s"${T.spark} AS toks")
        .filter("size(toks) >= 8")
        .selectExpr("doc_id", "window_hashes(toks, 8) AS whs")
        .select(col("doc_id"), posexplode(col("whs")).as(Seq("p0", "h")))
        .selectExpr("h", "doc_id", "CAST(p0 + 1 AS INT) AS pos")
        .as[WinOcc]).toDF())
      .distinct()
      .selectExpr("doc_id", "pos")
      .orderBy("doc_id", "pos")
  }

  /** The incremental fact load as a REAL Structured Streaming job — the
    * streamed twin of graft.etl.Incremental (which replays the same
    * lifecycle with batch writers): order headers arrive as a file
    * stream (two staged slices split at the same order-date cut, one
    * micro-batch each), every batch runs the FULL fact derivation —
    * header⨝detail against the static lineitem, broadcast SK lookups
    * against the static dims, decimal money math, null-key prune; all
    * stateless stream-static shapes — and the sink APPENDS parquet into
    * the year-partitioned DW. Gated against the same DuckDB oracle as
    * the one-shot rebuild: arrival order and batch boundaries must not
    * leak into the fact.
    *
    * This is the §2.7 deployment story end-to-end: the reference
    * truncate-reloads 121k rows per run; this job is the shape that
    * absorbs a day's orders into a 100 TB DW without touching history.
    * (Delivery posture: the checkpointed file source tracks processed
    * files so a RESTARTED query never re-reads one, but the parquet
    * append sink is at-least-once under a mid-batch retry — end-to-end
    * exactly-once needs a transactional sink/table format on top.)
    */
  def factIncrementalStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_fact_stream")
    // the static join sides are the STORED SK maps (sunk once per
    // dataset fingerprint, read back), so each micro-batch joins against
    // plain parquet scans instead of re-deriving the dimensional model
    // per trigger
    val Seq(dp, dc, dv, dl) = graft.etl.Incremental.ensureDims(spark, dir)
    r.sink(graft.etl.Star
        .fatoVendasFromDims(r.stage(orderCut(spark, dir)),
          graft.Tables.lineitem(spark, dir), dp, dc, dv, dl)
        .withColumn("ano", (col("sk_tempo") / 10000).cast("int")), "ano")
      .drop("ano")
      .withColumn("valor_bruto", col("valor_bruto").cast("double"))
      .withColumn("valor_desconto", col("valor_desconto").cast("double"))
      .withColumn("valor_total", col("valor_total").cast("double"))
      .select("id_pedido", "numero_linha", "sk_produto", "sk_cliente",
        "sk_vendedor", "sk_localidade", "sk_tempo", "qtd_vendida",
        "valor_bruto", "valor_desconto", "valor_total")
      .orderBy("id_pedido", "numero_linha", "sk_produto", "sk_vendedor",
        "qtd_vendida", "valor_bruto", "valor_desconto")
  }

  /** The orders table as two shards split at the incremental loads'
    * order-date cut.
    */
  private def orderCut(spark: SparkSession, dir: String): Seq[DataFrame] = {
    val o = graft.Tables.orders(spark, dir)
    Seq(o.filter(col("o_orderdate") < lit("1996-01-01")),
      o.filter(col("o_orderdate") >= lit("1996-01-01")))
  }

  /** [[graft.text.CurationOps.corpusCard]] maintained under streaming
    * arrivals: each micro-batch's partial card merges into the committed
    * state by integer addition (foreachBatch + StoreCommit, exactly-once
    * under redelivery), and the read-time presentation is bit-identical
    * to the one-shot scan because every cell is an associative count.
    * Same oracle as the batch card.
    */
  def corpusCardStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_card_stream")
    r.fold(r.stage(docShards(spark, dir,
      Seq("CAST(doc_id AS BIGINT) AS doc_id", "lang", "source", "text"))))(
      graft.text.CurationOps.applyCardBatch(spark, _, r.state, _))
    graft.text.CurationOps.readCardState(spark, r.state)
  }

  /** The materialized KPI maintained as a STREAM — the incremental twin
    * of graft.etl.Incremental.kpiIncremental: order slices arrive as a
    * file stream, each micro-batch derives its fact lines against the
    * STORED SK maps and key-merges its sk_produto partial into the
    * committed state (exactly-once via the StoreCommit batchId
    * watermark). Decimal partial sums are associative, so any arrival
    * batching lands on the one-shot aggregate — gated against the SAME
    * DuckDB oracle as kpi6_vendas_categoria.
    */
  def kpiIncrementalStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_kpi_stream")
    val dims = graft.etl.Incremental.ensureDims(spark, dir)
    r.fold(r.stage(orderCut(spark, dir)))(
      graft.etl.Incremental.applyKpiBatch(spark, dir, _, r.state, _, dims))
    graft.etl.Incremental.readKpiState(spark, dir, r.state)
  }

  /** SCD2 dimension maintenance as a STREAMING UPSERT — the foreachBatch
    * read-modify-write pattern every table-format-less streaming DW
    * runs: update batches arrive as a file stream (two staged
    * disjoint-key slices, one micro-batch each), and each batch applies
    * the SAME merge kernel the one-shot gate runs
    * (graft.etl.Scd.scd2Merge) against the versioned state store
    * (graft.etl.Scd.applyBatchToStore): the batch reads only the
    * committed current dir, stages its newly-closed rows into an
    * immutable per-batch history dir, and atomically advances the commit
    * pointer — history rows are never read or rewritten per micro-batch,
    * so the per-batch sink cost is O(|current| + |updates|), not O(|dim|
    * with all accumulated history), and the batchId watermark makes the
    * apply EXACTLY-ONCE under foreachBatch redelivery (ScdPitSpec pins
    * history immutability, the replay skip, and the crash-window
    * replay). Gated against the SAME
    * DuckDB oracle as q_scd2_apply: the update split carries disjoint key
    * sets (changed keys are the positive business keys, brand-new keys
    * the negative sentinels), so sequential merging provably lands on the
    * one-shot table, and the gate checks it bit-exactly.
    */
  def scd2Streamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_scd2_stream")
    val up = graft.etl.Scd.updateBatch(spark, dir)
    graft.etl.Scd.initStateStore(spark, dir, r.state)
    // batchId threads through to the store's commit watermark: a
    // replayed batch after a restart is skipped, not re-applied —
    // the store is exactly-once, not at-least-once
    r.fold(r.stage(Seq(up.filter(col("id_cliente") >= 0),
        up.filter(col("id_cliente") < 0))))(
      graft.etl.Scd.applyBatchToStore(spark, r.state, _, "1999-01-01", _))
    graft.etl.Scd.readStateStore(spark, r.state)
      .orderBy("id_cliente", "valid_from", "vigente")
  }

  /** ANN index maintenance as a STREAM — the serving-index ingest loop a
    * vector store runs: the index is built once on the corpus as of
    * build time (9/10 of the vectors), then arrivals land as a file
    * stream (two staged disjoint slices, one micro-batch each) and each
    * batch cell-appends under the STORED quantizer
    * (graft.sim.EmbeddingOps.appendIvfIndexKmeans — assign to stored
    * centroids, append to cell partitions, O(batch) per trigger, no
    * retraining, indexed files never rewritten). Gated against the SAME
    * oracle as the batch q_ann_ivf_kmeans_incr: training on the build
    * slice, serving assignment over the full corpus — batch boundaries
    * and arrival order must not leak into the probes.
    */
  def ivfIndexStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_ivf_stream")
    val emb = vectors(spark, dir)
    graft.sim.EmbeddingOps.buildIvfIndexKmeansOn(spark,
      emb.filter(!IncrArrival), emb.filter(!IncrArrival), r.idx, "stream")
    // the batch owns its (cell, batch) partitions: a replay after a
    // restart dynamically overwrites them instead of duplicating
    // appended vectors — exactly-once index maintenance
    r.fold(r.stage(arrivalShards(emb)))(
      graft.sim.EmbeddingOps.appendIvfIndexKmeans(spark, _, r.idx, _))
    graft.sim.EmbeddingOps.annIvfKmeansIndexed(spark, dir, r.idx)
  }

  /** The embeddings the streamed index gates build on and stream in. */
  private def vectors(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.embeddings(spark, dir)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")

  /** The arriving vectors as two shards, on the parity of vec_id div 10. */
  private def arrivalShards(emb: DataFrame): Seq[DataFrame] =
    parity(emb.filter(IncrArrival), expr("vec_id div 10"))

  /** The streamed DELETE twin for the graph store: victim ids arrive
    * as a file stream over two micro-batches, each landing as its own
    * tombstone partition (replay-idempotent) with the O(touched cells)
    * entry refresh running per batch off the CUMULATIVE tombstone set —
    * convergent, so the drained masked serve must answer the same
    * hole-y-walk oracle as the one-shot q_ann_graph_delete: how the
    * victims arrived is unobservable.
    */
  def graphDeleteStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_graphdel_stream")
    val emb = vectors(spark, dir)
    graft.sim.EmbeddingOps.buildGraphIndexOn(spark,
      emb.filter(!IncrArrival), r.idx,
      knownN = graft.sim.EmbeddingOps.cachedCount(dir, "pre",
        emb.filter(!IncrArrival)))
    graft.sim.EmbeddingOps.appendGraphIndex(spark, emb.filter(IncrArrival),
      r.idx, batchId = 0L)
    r.fold(r.stage(parity(emb.filter(graft.sim.EmbeddingOps.DeleteVictims)
        .select("vec_id"), expr("vec_id div 5"))))((batch, batchId) =>
      // tombstone batches live beside the append's batch 0
      graft.sim.EmbeddingOps.deleteGraphIndex(spark, batch, r.idx, batchId + 1L))
    graft.sim.EmbeddingOps.annGraphIndexedMasked(spark, dir, r.idx)
  }

  /** Drift-triggered retraining INSIDE the stream — the operational
    * composition of the SQ8 clamp monitor: each micro-batch appends
    * under the stored training and reads back its clamp rate; a rate
    * past the threshold retrains on everything indexed so far (the
    * store's own membership, raw vectors point-looked-up from the
    * source — the maintenance decision made by measurement, per batch,
    * not by cadence). On the gated drift corpus the FIRST shifted batch
    * fires (clamp ≈ 1.0) and the second lands in-range under the new
    * training (edge-level clamp, below the trigger), so the final
    * training is build-slice + batch 0 — pinned by its own oracle; a
    * missed or doubled firing hash-fails. Replay-convergent: the
    * batch-keyed append overwrites itself, the retrain rebuilds from
    * membership.
    */
  def sq8RetrainStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_sq8_retrain_stream")
    val emb = graft.sim.EmbeddingOps.sq8DriftBase(spark, dir)
    graft.sim.EmbeddingOps.buildSq8IndexOn(spark,
      emb.filter(!IncrArrival), emb.filter(!IncrArrival), r.idx)
    r.fold(r.stage(arrivalShards(emb))) { (batch, batchId) =>
      val rate = graft.sim.EmbeddingOps.appendSq8Index(spark, batch, r.idx, batchId)
      if (rate > graft.sim.EmbeddingOps.SQ8_CLAMP_RETRAIN) {
        val members = spark.read.parquet(r.idx + "/codes").select("vec_id")
        val indexed = emb.join(members, Seq("vec_id"), "left_semi")
        graft.sim.EmbeddingOps.buildSq8IndexOn(spark, indexed, indexed, r.idx)
      }
    }
    graft.sim.EmbeddingOps.annSq8Indexed(spark, dir, r.idx)
  }

  /** The graph index's streamed ingest twin: arrivals land as
    * micro-batches through the same seam-free append (touched cells'
    * subgraphs rebuilt over their post-batch membership — the second
    * batch's rebuild naturally includes the first's arrivals, because
    * the rebuild reads the store). Every step is replay-idempotent
    * ((cell, batch) dynamic overwrite for vectors; the per-cell edge
    * rebuild rewrites the same content; the entries rewrite converges),
    * so the drained stream must answer the SAME full-fresh-build oracle
    * as the batch q_ann_graph_incr — arrival shape unobservable.
    */
  def graphIndexStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_graph_stream")
    val emb = vectors(spark, dir)
    graft.sim.EmbeddingOps.buildGraphIndexOn(spark,
      emb.filter(!IncrArrival), r.idx,
      knownN = graft.sim.EmbeddingOps.cachedCount(dir, "pre",
        emb.filter(!IncrArrival)))
    r.fold(r.stage(arrivalShards(emb)))(
      graft.sim.EmbeddingOps.appendGraphIndex(spark, _, r.idx, _))
    graft.sim.EmbeddingOps.annGraphIndexed(spark, dir, r.idx)
  }

  /** Streamed twin of the XCELL append: arrival micro-batches land
    * through the one-seam-wider maintenance — the served answer must be
    * arrival-shape-independent (same fresh-build oracle as the batch
    * incr gate). Exactly-once rides foreachBatch's batchId keying the
    * (cell, batch) vector partitions, the shared graph convention.
    */
  def graphXcellIndexStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_graph_xcell_stream")
    val emb = vectors(spark, dir)
    graft.sim.EmbeddingOps.buildGraphXcellIndexOn(spark,
      emb.filter(!IncrArrival), r.idx,
      knownN = graft.sim.EmbeddingOps.cachedCount(dir, "pre",
        emb.filter(!IncrArrival)))
    r.fold(r.stage(arrivalShards(emb)))(
      graft.sim.EmbeddingOps.appendGraphXcellIndex(spark, _, r.idx, _))
    graft.sim.EmbeddingOps.annGraphXcellIndexed(spark, dir, r.idx)
  }

  /** Streamed twin of the ROUTED append: arrival micro-batches land
    * through the layer-refreshing maintenance (graph append + population
    * entry-cell refresh) — the served answer must be arrival-shape-
    * independent (same fresh-build oracle as the batch routed_incr
    * gate). Completes the lifecycle symmetry: every other persisted
    * family already had its streamed maintenance twin.
    */
  def graphRoutedIndexStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_graph_routed_stream")
    val emb = vectors(spark, dir)
    graft.sim.EmbeddingOps.buildGraphIndexOn(spark,
      emb.filter(!IncrArrival), r.idx,
      knownN = graft.sim.EmbeddingOps.cachedCount(dir, "pre",
        emb.filter(!IncrArrival)))
    graft.sim.EmbeddingOps.buildGraphLayerOn(spark, r.idx)
    r.fold(r.stage(arrivalShards(emb)))(
      graft.sim.EmbeddingOps.appendGraphRoutedIndex(spark, _, r.idx, _))
    graft.sim.EmbeddingOps.annGraphRoutedIndexed(spark, dir, r.idx)
  }

  /** The streamed ingest twin of the SQ8 index lifecycle
    * (q_ann_sq8_incr): min/max trained on the 9/10 build slice, the
    * arriving 1/10 split across two micro-batches, each encoded under
    * the STORED training and landed as its own batch partition (the
    * replay-idempotent dynamic overwrite the IVF append uses — a
    * restarted micro-batch overwrites itself, exactly-once). The
    * drained index must answer the same oracle as the batch incr gate:
    * how the arrivals were sliced into batches is unobservable.
    */
  def sq8IndexStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_sq8_stream")
    val emb = vectors(spark, dir)
    graft.sim.EmbeddingOps.buildSq8IndexOn(spark,
      emb.filter(!IncrArrival), emb.filter(!IncrArrival), r.idx)
    r.fold(r.stage(arrivalShards(emb)))(
      graft.sim.EmbeddingOps.appendSq8Index(spark, _, r.idx, _))
    graft.sim.EmbeddingOps.annSq8Indexed(spark, dir, r.idx)
  }

  /** The streamed DELETE twin of the k-means index lifecycle: the same
    * build + append as [[ivfIndexStreamed]]'s batch sibling
    * (q_ann_ivf_kmeans_delete), but the delete REQUESTS arrive as a file
    * stream of vec_ids split across two micro-batches. Each batch lands
    * as its own tombstone partition (deleteIvfPq keys the write by
    * batchId, so a replayed micro-batch overwrites itself — the same
    * exactly-once shape as the append path), and the probe after the
    * stream drains must answer the SAME survivors oracle as the batch
    * delete gate: how the victims arrived (one batch, two batches, a
    * replay) must be unobservable in the answer.
    */
  def ivfDeleteStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_ivfdel_stream")
    val emb = vectors(spark, dir)
    graft.sim.EmbeddingOps.buildIvfIndexKmeansOn(spark,
      emb.filter(!IncrArrival), emb.filter(!IncrArrival), r.idx, "stream-del")
    graft.sim.EmbeddingOps.appendIvfIndexKmeans(spark, emb.filter(IncrArrival),
      r.idx, batchId = 0L): Unit
    r.fold(r.stage(parity(emb.filter(graft.sim.EmbeddingOps.DeleteVictims)
        .select("vec_id"), expr("vec_id div 5"))))(
      graft.sim.EmbeddingOps.deleteIvfPq(spark, _, r.idx, _))
    graft.sim.EmbeddingOps.annIvfKmeansIndexed(spark, dir, r.idx)
  }

  /** The streamed DELETE twin for the persisted BM25 index: document
    * delete requests arrive as a file stream of doc_ids over two
    * micro-batches, each landing as its own tombstone partition
    * (RetrievalOps.deleteBm25Docs keys by batchId — replay-idempotent),
    * and the serve after the drain must answer the survivors oracle
    * exactly like the one-shot delete gate — globals (nd, avgdl,
    * read-time df) included.
    */
  def bm25DeleteStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_bm25del_stream")
    graft.text.RetrievalOps.buildBm25Index(spark, dir, r.idx)
    r.fold(r.stage(parity(graft.Tables.documents(spark, dir)
        .filter(col("doc_id") % 7 === 3).select("doc_id"), expr("doc_id div 7"))))(
      graft.text.RetrievalOps.deleteBm25Docs(spark, _, r.idx, _))
    graft.text.RetrievalOps.bm25Served(spark, r.idx)
  }

  /** The FULL star-maintenance loop as ONE stream — the capstone
    * composition of the SCD2 state store and the incremental PIT fact
    * load (the streamed twin of graft.etl.Scd.factScd2Lifecycle): order
    * slices arrive as a file stream (pre-cut slice, then post-cut slice,
    * one micro-batch each); BETWEEN the two fact batches the SCD2
    * dimension update applies to the partitioned state store, exactly
    * where a nightly dim load lands between two fact ingest windows.
    * Each fact batch PIT-resolves its orders against the store AS OF ITS
    * OWN load time — batch 1 sees the initial open versions, batch 2 the
    * post-merge table — and appends to the fact sink. Gated against the
    * SAME one-shot oracle as q_fact_scd2_lifecycle (PIT of all orders
    * against the final version table): a closed version keeps its
    * attributes over [valid_from, cut), so per-batch resolution equals
    * end-state resolution, and neither batch boundaries nor the
    * mid-stream dim merge may leak into the fact.
    *
    * The dim update hooks on the batch carrying any POST-cut order (not
    * on a hardcoded batch id), so the lifecycle stays correct under any
    * file-to-batch packing the source chooses. Both sinks are
    * EXACTLY-ONCE under redelivery: the dim merge is guarded by the
    * store's commit watermark (no driver-side flag to reset on restart),
    * and each fact micro-batch dynamically overwrites its own batch=<id>
    * partition instead of appending.
    */
  def factScd2LifecycleStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_scd2life_stream")
    val cut = graft.etl.Scd.PitLoadDate
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").cast("long").as("id_pedido"),
      col("o_custkey").cast("long").as("id_cliente"),
      col("o_orderdate").as("data_pedido"),
      col("o_totalprice").cast("double").as("valor_pedido"))
    graft.etl.Scd.initStateStore(spark, dir, r.state)
    r.fold(r.stage(Seq(o.filter(col("data_pedido") < lit(cut)),
        o.filter(col("data_pedido") >= lit(cut))))) { (batch, batchId) =>
      val hasPostCut = batch.filter(col("data_pedido") >= lit(cut)).limit(1)
        .count() > 0
      // the dim merge applies once, guarded by the STORE's own commit
      // watermark (its single update batch is store-batch 0) — no
      // driver-side var, so a restarted query cannot re-apply it
      if (hasPostCut)
        graft.etl.Scd.applyBatchToStore(spark, r.state,
          graft.etl.Scd.updateBatch(spark, dir), cut, batchId = 0L)
      // the fact sink is idempotent by batch id: each micro-batch owns
      // its batch=<id> partition and a replay dynamically overwrites it
      // — no duplicated fact rows under redelivery
      graft.etl.Scd.pitResolve(batch, graft.etl.Scd.readStateStore(spark, r.state))
        .withColumn("batch", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(r.out)
    }
    spark.read.parquet(r.out)
      .select("id_pedido", "id_cliente", "data_pedido", "valor_pedido",
        "segmento", "versao_desde")
      .orderBy("id_pedido")
  }

  /** The HLL sketch maintained INCREMENTALLY — the live distinct-count
    * register table a streaming ingest keeps: docs arrive as a file
    * stream (two staged parity slices, one micro-batch each), each batch
    * derives its partial registers (the SAME derivation as the one-shot
    * gate, graft.text.CurationOps.hllRegistersOf) and merges them into
    * the stored 256-row register table by bucket-wise MAX — the
    * mergeability that makes HLL the canonical streamed sketch,
    * exercised for real. Per-batch state cost is O(m)=256 rows,
    * corpus-size-independent (this is the one state store where a full
    * rewrite per batch IS the right shape); the store is ONE live
    * register table behind an atomic commit pointer — per-batch staging
    * plus batchId watermark (graft.text.CurationOps.hllApplyBatch), so
    * replays are skipped and superseded state dirs are dropped rather
    * than accumulating as a version trail. Gated against the same
    * DuckDB oracle as q_sketch_hll: MAX-merge is order- and
    * partition-insensitive, so batch boundaries cannot leak.
    */
  def sketchHllStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_hll_stream")
    r.fold(r.stage(docShards(spark, dir, DocText)))(
      graft.text.CurationOps.hllApplyBatch(spark, r.state, _, _))
    graft.text.CurationOps.hllReadState(spark, r.state).orderBy("balde")
  }

  /** The per-day grouped HLL register table maintained as a STREAM —
    * incremental twin of graft.ops.GraphOps.hllGroupedDaily: each
    * micro-batch's (dia, balde) partial registers MAX-merge into the
    * committed state under StoreCommit exactly-once. Arrivals split by
    * event parity, so every day spans both batches and the merge is
    * exercised on every group — the read-back must still be
    * bit-identical to the one-shot scan (same oracle).
    */
  def hllGroupedStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_hll_grouped_stream")
    r.fold(r.stage(parity(graft.Tables.events(spark, dir).selectExpr(
        "CAST(event_id AS BIGINT) AS event_id", "ts", "user_id"), col("event_id"))))(
      graft.ops.GraphOps.hllGroupedApplyBatch(spark, r.state, _, _))
    graft.ops.GraphOps.hllGroupedReadState(spark, r.state).orderBy("dia", "balde")
  }

  /** The events constraint suite maintained as a STREAM — incremental
    * twin of graft.ops.QualityOps.dqEvents. Every rule is row-local, so
    * any sharding makes per-batch (checked, violations) counts ADD
    * exactly; the committed rule table is folded by per-rule SUM
    * (StoreCommit exactly-once) and reads back bit-identical to the
    * one-shot scan (same oracle). This is the production shape of a
    * data-quality monitor: rules evaluated on arrival, violations
    * visible continuously, never a full rescan.
    */
  def dqEventsStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_dq_stream")
    r.fold(r.stage(parity(graft.Tables.events(spark, dir)
        .select("event_id", "event_type", "value", "props"), col("event_id"))))(
      graft.ops.QualityOps.dqApplyBatch(spark, r.state, _, _))
    graft.ops.QualityOps.dqReadState(spark, r.state)
  }

  /** The NATIVE session_window sessionizer run as a real STREAMING
    * aggregation — the point of graft.ops.RelationalOps.sessionizeNative:
    * the same groupBy(user_id, session_window(ts, gap)) spelling, now
    * under a watermark in append mode. No custom state code at all —
    * Spark's session-window state store merges windows and the
    * watermark finalizes a session once nothing can extend it. Two
    * far-future sentinel events (negative user_ids, filtered at read)
    * advance the watermark past every real session's close and then
    * trigger the eviction batch, exactly as in the
    * flatMapGroupsWithState twin. Money folds as DECIMAL inside the
    * state (exact, order-independent), cast to double only at read.
    * Same oracle as q_sessionize / q_sessionize_native.
    */
  def sessionizeWindowStreamed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMin = 30
    val delayMin = 10
    val r = new Replay(spark, "graft_sessw_stream")
    val ev = graft.Tables.events(spark, dir).select(
      col("event_id").cast("long").as("event_id"), col("ts"),
      col("user_id").cast("long").as("user_id"),
      col("value").cast("decimal(18,2)").as("value"))
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    def sentinel(uid: Long, offsetMin: Int): DataFrame = {
      import spark.implicits._
      Seq((uid, new java.sql.Timestamp(maxTs.getTime + offsetMin * 60000L),
        uid, BigDecimal(0)))
        .toDF("event_id", "ts", "user_id", "value")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("value").cast("decimal(18,2)").as("value"))
    }
    r.sink(r.stage(Seq(ev, sentinel(-1L, gapMin + delayMin + 1),
        sentinel(-2L, gapMin + delayMin + 61)))
      .withWatermark("ts", s"$delayMin minutes")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMin minutes").as("sw"))
      .agg(count(lit(1)).as("n_eventos"),
        min(col("ts")).as("inicio_ts"), max(col("ts")).as("fim_ts"),
        sum(col("value")).as("valor_dec")))
      .filter(col("user_id") >= 0)
      .withColumn("sessao", row_number().over(
        Window.partitionBy("user_id").orderBy("inicio_ts")).cast("int"))
      .select(col("user_id"), col("sessao"),
        col("n_eventos").cast("long").as("n_eventos"),
        date_format(col("inicio_ts"), "yyyy-MM-dd HH:mm:ss").as("inicio"),
        date_format(col("fim_ts"), "yyyy-MM-dd HH:mm:ss").as("fim"),
        col("valor_dec").cast("double").as("valor"))
      .orderBy("user_id", "sessao")
  }

  /** The weighted sample maintained as a STREAM — incremental twin of
    * graft.ops.QualityOps.weightedSample. Hash-priority is row-local,
    * so the top-k is MERGEABLE: top-k(slice A) ∪ top-k(slice B) ⊇
    * global top-k, and re-ranking the union recovers it exactly —
    * per-batch candidate top-k folds into the committed k-row store
    * (StoreCommit exactly-once). The production shape of maintaining a
    * released sample under corpus growth without rescans.
    */
  def weightedSampleStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_wsample_stream")
    r.fold(r.stage(parity(graft.Tables.documents(spark, dir)
        .select("doc_id", "n_chars"), col("doc_id"))))(
      graft.ops.QualityOps.wsApplyBatch(spark, r.state, _, _))
    graft.ops.QualityOps.wsReadState(spark, r.state)
  }

  /** The hourly gap-fill maintained as a STREAM — incremental twin of
    * graft.ops.QualityOps.timeGapfill. Every step (in-hour latest
    * observation, grid explode, fill window) is per-user local, so
    * USER-complete micro-batches produce exactly their users' final
    * rows — the committed store just appends them (StoreCommit
    * exactly-once); same oracle as the one-shot scan. The production
    * shape of feature-table densification under user-cohort backfills.
    */
  def timeGapfillStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_gapfill_stream")
    r.fold(r.stage(parity(graft.Tables.events(spark, dir)
        .select("user_id", "ts", "event_id", "value"), col("user_id"))))(
      graft.ops.QualityOps.gapfillApplyBatch(spark, r.state, _, _))
    graft.ops.QualityOps.gapfillReadState(spark, r.state)
  }

  /** The transition-graph triangle census maintained as a STREAM —
    * incremental twin of graft.ops.QualityOps.triangleCount. A
    * transition spans one user's consecutive events, so USER-complete
    * micro-batches contribute exact edge sets; the committed store
    * distinct-unions them (O(|edge universe|) state, never the event
    * log) and the census runs at read. Same oracle as the scan.
    */
  def triangleStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_tri_stream")
    r.fold(r.stage(parity(graft.Tables.events(spark, dir)
        .select("user_id", "ts", "event_id", "props"), col("user_id"))))(
      graft.ops.QualityOps.triangleApplyBatch(spark, r.state, _, _))
    graft.ops.QualityOps.triangleReadState(spark, r.state)
  }

  /** PMI collocation counts maintained as a STREAM — incremental twin
    * of graft.ops.QualityOps.phrasePmi. Bigrams are doc-local, so
    * DOC-complete micro-batches make both count tables ADD exactly;
    * the min-support filter and top-k resolve at read time (a bigram
    * may cross the threshold only after merging slices). One commit
    * pointer covers the unigram + bigram pair — state versions are
    * atomic. Same oracle as the one-shot scan.
    */
  def phrasePmiStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_pmi_stream")
    r.fold(r.stage(parity(graft.Tables.documents(spark, dir)
        .select("doc_id", "text"), col("doc_id"))))(
      graft.ops.QualityOps.pmiApplyBatch(spark, r.state, _, _))
    graft.ops.QualityOps.pmiReadState(spark, r.state)
  }

  /** The equi-width histogram maintained as a STREAM — incremental twin
    * of graft.ops.RelationalOps.histogramCells: per-batch cells ADD into
    * the committed table (StoreCommit exactly-once). The bounds are
    * derived once, statically, before the stream starts — the sketch's
    * config, like any production histogram — so every batch bins
    * identically and the maintained table is bit-identical to the
    * one-shot scan (same oracle).
    */
  def histogramStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_hist_stream")
    val li = graft.Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice")
    val Array(mn, mx) = li.agg(org.apache.spark.sql.functions.min("l_extendedprice"),
      org.apache.spark.sql.functions.max("l_extendedprice"))
      .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    r.fold(r.stage(parity(li, col("l_orderkey"))))(
      graft.ops.RelationalOps.histogramApplyBatch(spark, r.state, _, mn, mx, _))
    graft.ops.RelationalOps.histogramReadState(spark, r.state)
  }

  /** Journey-path counts maintained as a STREAM — incremental twin of
    * graft.ops.GraphOps.pathMining. The staging shards by USER parity
    * (each user's full history in one batch): a 3-gram spans one user's
    * consecutive events, so user-complete slices make per-batch counts
    * ADD exactly; top-20 resolves at read. StoreCommit exactly-once;
    * same oracle as the one-shot scan.
    */
  def pathMiningStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_path_stream")
    r.fold(r.stage(parity(graft.Tables.events(spark, dir)
        .select("user_id", "ts", "event_id", "event_type"), col("user_id"))))(
      graft.ops.GraphOps.pathApplyBatch(spark, r.state, _, _))
    graft.ops.GraphOps.pathReadState(spark, r.state)
  }

  /** The CDC changelog ingested as a STREAM — incremental twin of
    * graft.etl.Cdc.cdcApply: micro-batches append onto the committed
    * log (StoreCommit exactly-once), latest-seq-wins resolves at read.
    * The staging deliberately delivers the seq-2 slice (updates +
    * tombstones) in the FIRST batch and the seq-1 inserts in the
    * second — out-of-order arrival — which read-time resolution
    * handles by construction; a compact-on-write store that kept only
    * live rows would have lost the early tombstones. Same oracle as
    * the batch apply.
    */
  def cdcStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_cdc_stream")
    val log = graft.etl.Cdc.changelog(spark, dir)
    r.fold(r.stage(Seq(log.filter(col("seq") === 2), log.filter(col("seq") === 1))))(
      graft.etl.Cdc.cdcApplyBatch(spark, r.state, _, _))
    graft.etl.Cdc.cdcReadState(spark, r.state)
  }

  /** The BM25 inverted index maintained as a STREAM — incremental twin
    * of graft.text.RetrievalOps.bm25TopK: each micro-batch's raw
    * postings APPEND onto the committed store and the (nd, sumlen)
    * stats add on (integer addition — associative), under StoreCommit
    * exactly-once. df is derived at read time from the accumulated
    * postings, so the served top-k is bit-identical to the one-shot
    * build no matter how documents split across batches (same oracle).
    */
  def bm25Streamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_bm25_stream")
    r.fold(r.stage(docShards(spark, dir, DocText)))(
      graft.text.RetrievalOps.bm25ApplyBatch(spark, r.state, _, _))
    graft.text.RetrievalOps.bm25ReadState(spark, r.state)
  }

  /** The positional index maintained under document arrivals — the
    * phrase-search twin of [[bm25Streamed]], same store protocol
    * ([[graft.text.RetrievalOps.phraseApplyBatch]]: staged union-rewrite
    * committed at the batchId watermark, exactly-once under replays).
    * The final probe runs the identical chained-join machinery over the
    * committed postings; arrival shape must be unobservable, so the gate
    * shares q_phrase_search's oracle.
    */
  def phraseSearchStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_phrase_stream")
    r.fold(r.stage(docShards(spark, dir, DocText)))(
      graft.text.RetrievalOps.phraseApplyBatch(spark, r.state, _, _))
    graft.text.RetrievalOps.phraseReadState(spark, r.state)
  }

  /** The heavy-hitter summary maintained as a STREAM — the incremental
    * twin of graft.text.CurationOps.heavyHitters: each micro-batch's
    * Misra-Gries summary merges into the committed state with the same
    * mergeable-summaries operation the batch aggregator's partition
    * merge uses, under the StoreCommit exactly-once protocol (replays
    * skipped at the batchId watermark, crashed batches re-stage over
    * their own dirs). The superset guarantee survives the micro-batch
    * merge tree by the same n/(k+1) bound as the partition merge tree,
    * so the read-time resolve (exact verify of the candidates over the
    * ingested corpus) lands on the IDENTICAL result as the one-shot
    * batch form — gated against the same GROUP BY/HAVING oracle.
    */
  def heavyHittersStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_hh_stream")
    r.fold(r.stage(docShards(spark, dir, DocText)))(
      graft.text.CurationOps.hhApplyBatch(spark, r.state, _, _))
    graft.text.CurationOps.hhResolve(spark, r.state, spark.read.parquet(r.in))
  }

  /** One signal-passing doc arriving at the streamed dedup stage (public
    * for codegen).
    */
  final case class CurDoc(hash: String, doc_id: Long, lang: String, n_tokens: Int)
  /** Per-hash state: the current keep-min owner (public for codegen). */
  final case class CurOwner(doc_id: Long, lang: String, n_tokens: Int)
  /** An ownership delta: +1 claims keeper-ship, −1 retroactively releases
    * a superseded keeper (public for codegen).
    */
  final case class CurDelta(doc_id: Long, lang: String, n_tokens: Int, delta: Int)

  /** Streamed exact-dedup keep-min — the incremental form of the batch
    * curation's `min(doc_id) over (partition by md5(text))` keeper rule:
    * state per content hash holds the smallest signal-surviving doc seen
    * so far. A doc claims keeper-ship (+1) when it is the first or the
    * new minimum of its hash; a superseded keeper is RETROACTIVELY
    * released (−1) the moment a smaller id arrives in a later
    * micro-batch, so the net-positive set converges to exactly the batch
    * keeper relation regardless of arrival order. State is
    * O(distinct content hashes) × ~40 bytes; replays of the current
    * owner are absorbed by the membership check (at-least-once posture,
    * net sums absorb a re-delivered claim of the same owner only if the
    * sink dedups — the gated shaping nets per doc, and a doc's claims
    * are idempotent per (doc, delta) distinct).
    */
  def curateKeepMinStream(docs: Dataset[CurDoc]): Dataset[CurDelta] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.hash)
      .flatMapGroupsWithState[CurOwner, CurDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[CurOwner]) =>
          val out = Seq.newBuilder[CurDelta]
          var owner = state.getOption
          it.toSeq.sortBy(_.doc_id).foreach { d =>
            owner match {
              case None =>
                owner = Some(CurOwner(d.doc_id, d.lang, d.n_tokens))
                out += CurDelta(d.doc_id, d.lang, d.n_tokens, 1)
              case Some(o) if d.doc_id == o.doc_id => // replay of the owner
              case Some(o) if d.doc_id < o.doc_id =>
                out += CurDelta(o.doc_id, o.lang, o.n_tokens, -1) // retroactive release
                owner = Some(CurOwner(d.doc_id, d.lang, d.n_tokens))
                out += CurDelta(d.doc_id, d.lang, d.n_tokens, 1)
              case Some(_) => // non-keeper: contributes nothing
            }
          }
          owner.foreach(o => state.update(o))
          out.result().iterator
      }
  }

  /** The corpus-curation keep/drop pass as a STREAM — the incremental
    * twin of graft.text.CurationOps.corpusCurate, gated against the SAME
    * DuckDB oracle: the per-doc signal verdicts are stateless projections
    * (the shared curateSignals stage, so stream and batch cannot drift),
    * the keep-min exact dedup runs through [[curateKeepMinStream]]'s
    * ownership state, and the per-language rollup is the follow-up batch
    * shaping over the net-positive claims — the standard streamed-index +
    * serving-rollup split. The two-file parity staging forces keeper
    * transfers across micro-batches, so the gate proves the retroactive
    * release path, not just in-batch minima.
    */
  def corpusCurateStreamed(spark: SparkSession, dir: String): DataFrame =
    curateStreamed(spark, dir, "graft_curate_stream", None)

  /** The streamed curation pass shared by the plain, fluent and
    * low-perplexity forms: signal survivors (semi-joined against the
    * statically derived `keep` set, when given) run the keep-min dedup
    * state, and the per-language rollup nets the claims at read time.
    */
  private def curateStreamed(spark: SparkSession, dir: String, tag: String,
      keep: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    val r = new Replay(spark, tag)
    val survivors = graft.text.CurationOps
      .curateSignals(r.stage(docShards(spark, dir)), barrier = false)
      .where("qualidade = 'boa' AND lang_ok = 1 AND repetitivo = 0")
    r.sink(curateKeepMinStream(
        keep.fold(survivors)(k => survivors.join(broadcast(k), Seq("doc_id"), "left_semi"))
          .selectExpr("md5(text) AS hash", "doc_id", "lang", "n_tokens")
          .as[CurDoc]).toDF())
      .distinct() // at-least-once absorber, as in the other streams
      .groupBy("doc_id", "lang", "n_tokens")
      .agg(sum(col("delta")).as("net"))
      .where("net > 0")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .selectExpr("lang", "n_docs", "total_tokens",
        "CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS media_tokens")
      .orderBy("lang")
  }

  /** [[graft.text.CurationOps.ngramNovelty]] under streaming arrivals:
    * the reference shingle-hash store is derived statically (at 100 TB
    * it is the previous crawl's persisted store), each arriving doc's
    * distinct shingle hashes anti-join it per micro-batch (stream-static
    * left anti — supported shape, no state), and the per-doc rollup
    * closes at read time. Converges to the batch relation; same oracle.
    */
  def ngramNoveltyStreamed(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.CurationOps
    val statics = graft.Checkpoint.barrier(
      graft.Tables.documents(spark, dir)
        .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "source",
          s"${CurationOps.hashedShinglesExpr} AS shd"))
    val ref = statics
      .filter(s"source IN (${CurationOps.noveltyRefIn})")
      .select(explode(col("shd")).as("h")).distinct()
    val r = new Replay(spark, "graft_novelty_stream")
    val novel = r.sink(r.stage(docShards(spark, dir, DocText))
        .selectExpr("doc_id", s"${CurationOps.hashedShinglesExpr} AS shd")
        .select(col("doc_id"), explode(col("shd")).as("h"))
        .join(ref, Seq("h"), "left_anti"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novos"))
    statics.selectExpr("doc_id", "CAST(size(shd) AS INTEGER) AS n_shingles")
      .join(novel, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_novos"))
      .selectExpr("doc_id", "n_shingles",
        "CAST(n_novos AS INTEGER) AS n_novos",
        "CAST(n_novos AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS taxa_nova")
      .orderBy("doc_id")
  }

  /** The LM-scored doc gates' token stream: the parity-staged documents
    * outside the training slice, tokenized.
    */
  private def lmTokens(r: Replay, spark: SparkSession, dir: String): DataFrame =
    r.stage(docShards(spark, dir, DocText))
      .filter(col("doc_id") % graft.text.CurationOps.LmTrainMod =!= 0)
      .selectExpr("doc_id",
        s"${graft.text.TextExprs.tokens("text").spark} AS toks")

  /** [[graft.text.CurationOps.lmPerplexity]] under streaming arrivals —
    * the deployed shape of a perplexity filter: the bigram/unigram count
    * tables are trained STATICALLY from the mod slice (fit once), the
    * trained corpus total ships as an inlined literal (a model constant,
    * not a joined relation — streams cannot re-aggregate the static
    * side per batch anyway), and arriving docs explode to (posn, w₁, w₂)
    * triples that stream-static left-join the tables per micro-batch.
    * Per-token bits are integers, so the per-doc sum closes exactly at
    * read time regardless of batch boundaries. All kernels are shared
    * with the batch op ([[graft.text.CurationOps.lmTokenTriples]] /
    * `lmJoined` / `lmBitsSelect` / `lmDocAgg`) — same oracle, so the
    * deployment split must be invisible in the result.
    */
  def lmPerplexityStreamed(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.CurationOps
    val statics = CurationOps.lmDocs(spark, dir)
    val (uni, bi) = CurationOps.lmTrainTables(statics)
    val biB = graft.Checkpoint.barrier(bi)
    val nn = uni.agg(sum("n_w")).collect()(0).getLong(0)
    val r = new Replay(spark, "graft_lmppl_stream")
    CurationOps.lmDocAgg(r.sink(CurationOps.lmBitsSelect(
      CurationOps.lmJoined(CurationOps.lmTokenTriples(lmTokens(r, spark, dir)), uni, biB),
      nn.toString)))
  }

  /** [[graft.text.CurationOps.lmPerplexity3]] under streaming arrivals —
    * the trigram chain deployed like the bigram twin: all THREE count
    * tables (tri/bi/uni) trained statically from the mod slice, the
    * trained N inlined as a model constant, and arriving docs explode
    * to (posn, w₀, w₁, w₂) quads that stream-static left-join the
    * tables per micro-batch. Per-token bits are integers, so the
    * per-doc sum closes exactly at read time. Every kernel is shared
    * with the batch op ([[graft.text.CurationOps.lmTokenQuads]] /
    * `lmTriTable` / `lmBits3Select` / `lmDocAgg`) — same oracle, so
    * batch boundaries and the deployment split are invisible.
    */
  def lmPerplexity3Streamed(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.CurationOps
    val statics = CurationOps.lmDocs(spark, dir)
    val (uni, bi0) = CurationOps.lmTrainTables(statics)
    val bi = graft.Checkpoint.barrier(bi0)
    val tri = graft.Checkpoint.barrier(CurationOps.lmTriTable(statics))
    val nn = uni.agg(sum("n_w")).collect()(0).getLong(0)
    val r = new Replay(spark, "graft_lmppl3_stream")
    CurationOps.lmDocAgg(r.sink(CurationOps.lmBits3Select(
      CurationOps.lmTokenQuads(lmTokens(r, spark, dir))
        .join(tri, Seq("w0", "w1", "w2"), "left")
        .join(bi.select(col("w1").as("w0"), col("w2").as("w1"),
          col("n_ab").as("n_ctx")), Seq("w0", "w1"), "left")
        .join(bi, Seq("w1", "w2"), "left")
        .join(uni.select(col("w").as("w1"), col("n_w").as("n_b")),
          Seq("w1"), "left")
        .join(uni.select(col("w").as("w2"), col("n_w").as("n_c")),
          Seq("w2"), "left")
        .withColumn("nn", lit(nn)))))
  }

  /** [[graft.text.CurationOps.dsirScore]] under streaming arrivals: the
    * B-row fixed-point ratio table is the statically trained model;
    * arriving docs explode to (doc_id, bucket) and broadcast-join it per
    * micro-batch; the integer per-doc sum closes at read time (exact —
    * order-independent by construction). Same oracle as the batch form.
    */
  def dsirScoreStreamed(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.CurationOps
    val T = graft.text.TextExprs.tokens("text")
    val ratio = graft.Checkpoint.barrier(
      CurationOps.dsirRatioOf(CurationOps.dsirExplode(spark, dir)))
    val r = new Replay(spark, "graft_dsir_stream")
    r.sink(r.stage(docShards(spark, dir, DocText))
        .selectExpr("doc_id", s"${T.spark} AS t")
        .select(col("doc_id"), explode(col("t")).as("term"))
        .selectExpr("doc_id", s"${CurationOps.dsirBucketExpr} AS balde")
        .join(broadcast(ratio), Seq("balde"))
        .select("doc_id", "v"))
      .groupBy("doc_id")
      .agg(sum("v").as("pontuacao"), count(lit(1)).as("n_tokens"))
      .selectExpr("doc_id", "CAST(n_tokens AS INTEGER) AS n_tokens",
        "CAST(pontuacao AS BIGINT) AS pontuacao",
        "CAST(pontuacao * 1000 div n_tokens AS BIGINT) AS pontuacao_norm")
      .orderBy("doc_id")
  }

  /** [[corpusCurateStreamed]] + the fluency-prior gate — the CCNet shape
    * in its streaming form: the unigram weight table and the per-doc
    * fluency verdicts are derived STATICALLY ahead of the stream (the
    * trained prior — exactly how a perplexity model is deployed: fit
    * once, score arrivals against it), and each micro-batch semi-joins
    * its signal survivors against that broadcastable keep set before the
    * keep-min dedup state. Gated against the SAME oracle as the batch
    * q_corpus_curate_fluent, so batch boundaries, arrival order, and the
    * static-prior deployment split must all be invisible in the result.
    */
  def corpusCurateFluentStreamed(spark: SparkSession, dir: String): DataFrame =
    curateStreamed(spark, dir, "graft_curate_fluent_stream", Some(
      graft.Checkpoint.barrier(graft.text.CurationOps.fluentDocIds(spark, dir))))

  /** [[graft.text.CurationOps.corpusCuratePpl]] under streaming
    * arrivals: the low-perplexity keep set is the statically trained
    * artifact (LM fit + whole-corpus scoring happen once, ahead of the
    * stream — the curation-LM deployment shape), and arriving docs run
    * the identical signal gates + broadcast-semi-join against it, with
    * keep-min ownership state resolving cross-batch duplicates. Same
    * oracle as the batch form.
    */
  def corpusCuratePplStreamed(spark: SparkSession, dir: String): DataFrame =
    curateStreamed(spark, dir, "graft_curate_ppl_stream", Some(
      graft.Checkpoint.barrier(graft.text.CurationOps.pplKeepDocIds(spark, dir))))

  // ------------------------------------------------------ streamed funnel

  /** A buffered funnel event (µs timestamp + type; public for codegen). */
  final case class FunnelPending(us: Long, tpe: String)
  /** Per-user funnel state: the watermark-gated pending buffer plus the
    * three monotone funnel marks in µs (-1 = unset).
    */
  final case class FunnelBufState(buf: Seq[FunnelPending],
                                  tView: Long, tClick: Long, tBuy: Long)
  final case class FunnelRow(user_id: Long,
                             t_view: java.sql.Timestamp,
                             t_click: java.sql.Timestamp,
                             t_compra: java.sql.Timestamp,
                             converteu: Int)

  private def usToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
  private def tsToUs(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** [[graft.ops.RelationalOps.funnelSteps]] as a stateful stream:
    * events buffer per user until the watermark finalizes them, then
    * fold in event-time order into the three monotone marks — first
    * view, first click strictly after it, first purchase strictly after
    * that. In ascending event-time order the marks never need revision
    * (the reason the batch "min after previous stage" is
    * prefix-computable), so per-user state after folding is O(1) plus
    * the trailing unfinalized buffer, which the watermark horizon
    * bounds. Rows emit at the final timer flush; equal-µs ties are
    * harmless because every stage comparison is strict.
    */
  def funnelFold(events: Dataset[Event],
                 watermarkDelay: String = "10 minutes"): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val src = if (streaming) events.withWatermark("ts", watermarkDelay)
              else events
    val timeout = if (streaming) GroupStateTimeout.EventTimeTimeout
                  else GroupStateTimeout.NoTimeout
    val funnelTypes = Set("view", "click", "purchase")
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBufState, FunnelRow](
        OutputMode.Append, timeout) {
        case (uid, it, state: GroupState[FunnelBufState]) =>
          val prior = state.getOption.getOrElse(FunnelBufState(Nil, -1L, -1L, -1L))
          def fold(st: FunnelBufState, evs: Seq[FunnelPending]): FunnelBufState = {
            var (tv, tc, tb) = (st.tView, st.tClick, st.tBuy)
            evs.foreach { e =>
              e.tpe match {
                case "view" if tv < 0 => tv = e.us
                case "click" if tv >= 0 && e.us > tv && tc < 0 => tc = e.us
                case "purchase" if tc >= 0 && e.us > tc && tb < 0 => tb = e.us
                case _ =>
              }
            }
            FunnelBufState(Nil, tv, tc, tb)
          }
          def emit(fin: FunnelBufState): Iterator[FunnelRow] =
            if (fin.tView >= 0)
              Iterator.single(FunnelRow(uid, usToTs(fin.tView),
                if (fin.tClick >= 0) usToTs(fin.tClick) else null,
                if (fin.tBuy >= 0) usToTs(fin.tBuy) else null,
                if (fin.tBuy >= 0) 1 else 0))
            else Iterator.empty
          if (state.hasTimedOut) {
            val fin = fold(prior, prior.buf.sortBy(p => (p.us, p.tpe)))
            state.remove()
            emit(fin)
          } else {
            val incoming = it.filter(e => funnelTypes(e.event_type))
              .map(e => FunnelPending(tsToUs(e.ts), e.event_type)).toSeq
            if (!streaming) {
              emit(fold(prior, (prior.buf ++ incoming).sortBy(p => (p.us, p.tpe))))
            } else {
              val wmUs = state.getCurrentWatermarkMs() * 1000L
              val all = (prior.buf ++ incoming).sortBy(p => (p.us, p.tpe))
              val (ready, pending) = all.partition(_.us < wmUs)
              state.update(fold(prior, ready).copy(buf = pending))
              val maxUs = (all.map(_.us) :+ 0L).max
              state.setTimeoutTimestamp(
                math.max(maxUs / 1000L + 1, state.getCurrentWatermarkMs() + 1))
              Iterator.empty
            }
          }
      }
  }

  /** [[graft.ops.RelationalOps.eventsSliding]] as a WATERMARKED
    * streaming aggregation — the flagship Structured Streaming shape
    * (overlapping event-time windows + append-mode finalization) run as
    * a real job and gated against the batch oracle: one real
    * micro-batch, then a sentinel whose event time pushes the watermark
    * past every real window's end so append mode finalizes and emits
    * ALL of them (the sentinel's own windows carry only sentinel rows
    * and are filtered from the gate shape). State is one row per open
    * (window, type) — the watermark horizon bounds it.
    */
  def eventsSlidingStreamed(spark: SparkSession, dir: String): DataFrame = {
    val delayMin = 10
    val r = new Replay(spark, "graft_sliding_stream")
    // the sentinel's event time exceeds every real window end (+1h) plus
    // the watermark delay, so every real window finalizes
    r.sink(r.stage(withSentinels(typedEvents(spark, dir), -1L -> (60 + delayMin + 1)))
      .withWatermark("ts", s"$delayMin minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("soma_valor")))
      .filter(col("event_type") =!= "sentinel")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("inicio"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("fim"),
        col("event_type"), col("n"), col("soma_valor"))
      .orderBy("inicio", "event_type")
  }

  /** Idempotent event ingestion: at-least-once delivery re-sends rows,
    * and the ingest edge must dedup them by key across micro-batches —
    * Spark's `dropDuplicatesWithinWatermark` with per-key state whose
    * retention the watermark bounds (the production contract: a re-send
    * arrives within the delivery window, not arbitrarily late). Gated
    * by staging the corpus PLUS a verbatim re-send of every 7th event
    * in a second micro-batch: correct dedup makes the output the
    * original events table exactly, which IS the oracle — no special
    * SQL, just the table itself.
    */
  def dedupEventsStreamed(spark: SparkSession, dir: String): DataFrame = {
    val r = new Replay(spark, "graft_evdedup_stream")
    val ev = typedEvents(spark, dir)
    // the at-least-once re-send: every 7th event again, verbatim; the
    // delivery window spans the staged corpus, so a re-send is never
    // "late" — it always meets its state row and dedups
    r.sink(r.stage(Seq(ev, ev.filter(col("event_id") % 7 === 0)))
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark("event_id"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** The events table under the [[Event]] schema, `value` as given. */
  private def typedEvents(spark: SparkSession, dir: String,
      value: Column = col("value").cast("double")): DataFrame =
    graft.Tables.events(spark, dir).select(
      col("event_id").cast("long").as("event_id"), col("ts"),
      col("user_id").cast("long").as("user_id"), col("event_type"),
      value.as("value"))

  /** `ev` followed by one far-future sentinel event per (negative user
    * id, minutes past the last real event), each its own shard: staged
    * after the real events, they advance the watermark and fire the
    * timers as the passage of time would in a live stream. No real row
    * has a negative user id, so the read-back filters them out.
    */
  private def withSentinels(ev: DataFrame, offsets: (Long, Int)*): Seq[DataFrame] = {
    import ev.sparkSession.implicits._
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    ev +: offsets.map { case (uid, offsetMin) =>
      Seq(Event(uid, new java.sql.Timestamp(maxTs.getTime + offsetMin * 60000L),
        uid, "sentinel", 0.0)).toDF()
    }
  }

  /** The streamed funnel as a gated batch-comparable query: one real
    * micro-batch (so the watermark can never drop real events), two
    * sentinel batches — the first advances the watermark past every real
    * event, the second gives the engine a batch in which the flush
    * timers fire. Gated against the same DuckDB oracle as q_funnel.
    */
  def funnelStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val delayMin = 10
    val r = new Replay(spark, "graft_funnel_stream")
    r.sink(funnelFold(r.stage(withSentinels(typedEvents(spark, dir),
        -1L -> (delayMin + 1), -2L -> (delayMin + 61))).as[Event],
        s"$delayMin minutes").toDF())
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("t_view"), col("t_click"),
        col("t_compra"), col("converteu"))
      .orderBy("user_id")
  }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionSummary(user_id: Long, n_events: Int,
                                  inicio: java.sql.Timestamp,
                                  fim: java.sql.Timestamp, valor: Double)
  /** Internal per-key session accumulator (public: Catalyst's generated
    * code must be able to construct it).
    */
  final case class SessionState(n: Int, start: Long, last: Long, total: Double)
  /** A buffered not-yet-finalizable event (public for codegen). */
  final case class PendingEvent(ts: Long, id: Long, value: Double)
  /** Per-key state: the watermark-gated event buffer plus the running
    * session over already-finalized events (public for codegen).
    */
  final case class SessionBufState(buf: Seq[PendingEvent], cur: SessionState)

  /** The STREAMED sessionizer as a gated batch-comparable query: runs
    * [[sessionize]] as a real Structured Streaming job (file source →
    * flatMapGroupsWithState → parquet sink, `Trigger.AvailableNow`) over
    * the events table and post-shapes the emitted sessions to the exact
    * schema of the batch twin — so the q_sessionize DuckDB oracle gates
    * the STREAMING path, not just a spec assertion.
    *
    * Mechanics that make the streamed output total (not just the
    * gap-closed prefix):
    *  - the staged copy pins µs timestamps and EXACT-CENT values
    *    (`value·100` as an integral double), so the state fold's running
    *    double sum is integer arithmetic — order-independent and equal to
    *    the oracle's `SUM(DECIMAL(18,2))` after the final `/100.0`;
    *  - two far-future SENTINEL files (dummy negative user_ids, filtered
    *    from the output) land in their own micro-batches
    *    (`maxFilesPerTrigger=1`, monotone mtimes): the first advances the
    *    watermark past every real session's idle deadline, the second
    *    gives the engine a batch in which those event-time timers fire —
    *    flushing each user's trailing open session exactly as a live
    *    stream's passage of time would;
    *  - session ids are assigned after the fact by `row_number` over
    *    (user, inicio): sessions are time-disjoint per user, so this
    *    reproduces the batch twin's break-count numbering.
    */
  def sessionizeStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val gapMin = 30
    val delayMin = 10
    val r = new Replay(spark, "graft_sess_stream")
    // exact-cent staging: DECIMAL(18,2)·100 is an exact integral double,
    // so the streaming fold sums integers (no double-rounding drift)
    val ev = typedEvents(spark, dir,
      (col("value").cast("decimal(18,2)") * 100).cast("double"))
    // sentinel-1 ts puts the watermark (ts − delay) past every real idle
    // deadline (max real ts + gap); sentinel-2 triggers the timer batch
    r.sink(sessionize(r.stage(withSentinels(ev, -1L -> (gapMin + delayMin + 1),
        -2L -> (gapMin + delayMin + 61))).as[Event], gapMin, s"$delayMin minutes").toDF())
      .filter(col("user_id") >= 0)
      .withColumn("sessao", row_number().over(
        Window.partitionBy("user_id").orderBy("inicio")).cast("int"))
      .select(col("user_id"), col("sessao"),
        col("n_events").cast("long").as("n_eventos"),
        date_format(col("inicio"), "yyyy-MM-dd HH:mm:ss").as("inicio"),
        date_format(col("fim"), "yyyy-MM-dd HH:mm:ss").as("fim"),
        (col("valor") / 100.0).as("valor"))
      .orderBy("user_id", "sessao")
  }

  /** Gap-based sessionization with explicit state
    * (flatMapGroupsWithState): a session SUMMARY is emitted when a later
    * event arrives more than `gapMinutes` after the previous one, or when
    * the event-time watermark passes the session's idle deadline
    * (last event + gap) — so a user's FINAL session flushes without
    * needing a successor event.
    *
    * Cross-batch ordering: events are BUFFERED in state until the
    * watermark passes their event time. Only then are they folded — in
    * event-time order — into the session accumulator, so a late event
    * arriving in a later micro-batch (but within the watermark) lands in
    * its TRUE session, exactly as the batch twin
    * (RelationalOps.sessionizeBatch) would place it. The watermark is the
    * finalization frontier: an event is folded only once nothing earlier
    * can still arrive, and a session closes only once the watermark
    * proves its gap (every in-gap instant is behind the watermark with no
    * buffered event inside it). Per-key state is the session accumulator
    * plus the pending buffer, which the watermark horizon bounds (an
    * event stays buffered only while the watermark lags it — with delay D,
    * at most the events of the trailing D window per key).
    *
    * Every key carries an event-time timer at min(idle deadline, oldest
    * pending event), so idle users flush and evict instead of accreting.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
                 watermarkDelay: String = "10 minutes"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    val streaming = events.isStreaming
    // EventTimeTimeout needs a watermark; batch runs have neither (state
    // and timers don't exist there — each group is processed exactly once)
    val src = if (streaming) events.withWatermark("ts", watermarkDelay)
              else events
    val timeout = if (streaming) GroupStateTimeout.EventTimeTimeout
                  else GroupStateTimeout.NoTimeout
    val emptySession = SessionState(0, -1L, -1L, 0.0)
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBufState, SessionSummary](
        OutputMode.Append, timeout) {
        case (uid, it, state: GroupState[SessionBufState]) =>
          val out = Seq.newBuilder[SessionSummary]
          var st = state.getOption.map(_.cur).getOrElse(emptySession)
          def close(): Unit = {
            out += SessionSummary(uid, st.n, new java.sql.Timestamp(st.start),
              new java.sql.Timestamp(st.last), st.total)
            st = emptySession
          }
          def fold(ts: Long, value: Double): Unit = {
            if (st.n > 0 && ts - st.last > gapMs) close()
            st = if (st.n == 0) SessionState(1, ts, ts, value)
                 else SessionState(st.n + 1, st.start, ts, st.total + value)
          }
          if (!streaming) {
            // one-shot: every event is final; fold in event-time order.
            // Gap-closed sessions are emitted; the trailing open session
            // stays in state (append-mode parity with the streaming form,
            // where it would only flush once the watermark passed it).
            it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
              .foreach(e => fold(e.ts.getTime, e.value))
            state.update(SessionBufState(Seq.empty, st))
            out.result().iterator
          } else {
            val wm = state.getCurrentWatermarkMs()
            val buf = (state.getOption.map(_.buf).getOrElse(Seq.empty) ++
              it.map(e => PendingEvent(e.ts.getTime, e.event_id, e.value)))
              .sortBy(p => (p.ts, p.id))
            // The watermark seals a strict prefix of the buffer: nothing
            // EARLIER than wm can still arrive, so those fold in true
            // order. Strictly-less on both bounds: an event AT the
            // watermark may still gain same-timestamp peers (admission
            // keeps ts >= wm), and a session whose gap window ends exactly
            // at wm could still be extended by an event at ts == wm.
            val (ready, pending) = buf.partition(_.ts < wm)
            ready.foreach(p => fold(p.ts, p.value))
            if (st.n > 0 && wm > st.last + gapMs) close()
            if (st.n == 0 && pending.isEmpty) state.remove()
            else {
              state.update(SessionBufState(pending, st))
              val deadline = (pending.headOption.map(_.ts).toSeq ++
                (if (st.n > 0) Seq(st.last + gapMs) else Seq.empty)).min
              // max() keeps the timer legal if the deadline already lies
              // behind the watermark — it then fires on the next batch
              state.setTimeoutTimestamp(math.max(deadline, wm + 1))
            }
            out.result().iterator
          }
      }
  }
}
