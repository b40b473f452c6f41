package graft.ingest

import graft.meta.MetadataStore
import graft.model.ProcessConfig
import graft.store.TierStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * The standing ingestion "query" — the reference's Process.OnMessage
 * pipeline (reference: src/integration/tsdb/process.go:125-189, SURVEY.md
 * §3.3): selector match → filter chain → metadata enrichment → transform →
 * tier-routed write. Batch replay (process.go:211-231 AddMessage) and live
 * streaming share this exact plan — one code path, which is the Spark-first
 * redesign of the reference's two (callback + batch loader).
 */
object IngestPipeline {

  /** events (Schemas.rawEvent shape) → canonical points DataFrame. */
  def transform(events: DataFrame, config: ProcessConfig,
      metadata: Option[DataFrame]): DataFrame = {
    val filtered = selectAndFilter(events, config)
    val enriched = metadata.map(MetadataStore.enrich(filtered, _)).getOrElse(filtered)
    Transform(enriched)
  }

  /** The plan prefix every ingest form shares: site id → selector
   *  match → filter chain. */
  private def selectAndFilter(events: DataFrame, config: ProcessConfig): DataFrame = {
    // SiteId overrides the address global prefix (= domain tag),
    // reference: process.go:137-139
    val sited =
      if (config.siteId.nonEmpty)
        events.withColumn("domain", org.apache.spark.sql.functions.lit(config.siteId))
      else events
    val selected =
      if (config.selectors.nonEmpty)
        sited.filter(TopicMatch.anySelector(sited("topic"),
          config.selectors.map(_.topic)))
      else sited
    selected.filter(FilterCompiler.compile(config.filters))
  }

  /** Batch form: replayed/loaded events → tiered store (S2+S3). */
  def runBatch(events: DataFrame, config: ProcessConfig,
      metadata: Option[DataFrame], store: TierStore): Unit =
    store.writeRouted(transform(events, config, metadata), config.profile)

  /**
   * Ledger namespace for one streaming query, derived from its
   * checkpoint location: Structured Streaming's batch ids are scoped to
   * a checkpoint, so the ledger namespace must be too. Stable across
   * restarts of the same query (the crash-replay of batch N must find
   * its own marker) and distinct per query — two streams appending into
   * one [[TierStore]] under a SHARED writer id silently drop data: when
   * query A has committed batch N, query B's batch N is treated as
   * already committed and skipped. Collision-resistant derivation
   * (128-bit SHA-256 prefix, [[graft.store.BatchLedger.writerId]]) —
   * the earlier 32-bit hash left a birthday window where two colliding
   * checkpoints would share batch-id space and silently skip appends.
   */
  def writerId(checkpoint: String): String =
    graft.store.BatchLedger.writerId("ingest", checkpoint)

  /**
   * Streaming form: micro-batch append into the tier store via
   * foreachBatch (the reference's dual size/time-triggered batch writer,
   * process.go:290-310,444-455, maps to ProcessingTime triggers).
   * EXACTLY-ONCE end to end: each micro-batch lands through
   * [[TierStore.writeRoutedBatch]], whose ledger-gated batch files make
   * the post-crash replay of the last uncommitted batch idempotent —
   * strictly better than both at-least-once appends and the reference's
   * drop-on-error batches (SURVEY.md §2.8). The ledger namespace is
   * [[writerId]] of the checkpoint.
   */
  def runStream(events: DataFrame, config: ProcessConfig,
      metadata: Option[DataFrame], store: TierStore,
      checkpoint: String): StreamingQuery = {
    val w = writerId(checkpoint)
    transform(events, config, metadata)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(s"${config.saveIntervalMs} milliseconds"))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        store.writeRoutedBatch(batch, id, config.profile, w): Unit
      }
      .start()
  }

  /**
   * Streaming form with a REFRESHABLE metadata dimension (the reference's
   * periodic site-cache reload, vinc_store.go:25): selector + filter run
   * in the standing streaming plan; enrichment + transform run per
   * micro-batch inside foreachBatch against `provider.current()`, so
   * metadata edits land on the next batch without restarting the query.
   * The ledger namespace is [[writerId]] of the checkpoint.
   */
  def runStreamRefreshable(events: DataFrame, config: ProcessConfig,
      provider: MetadataStore.Provider, store: TierStore,
      checkpoint: String): StreamingQuery = {
    val w = writerId(checkpoint)
    selectAndFilter(events, config)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(s"${config.saveIntervalMs} milliseconds"))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val enriched = MetadataStore.enrich(batch, provider.current())
        store.writeRoutedBatch(Transform(enriched), id, config.profile, w): Unit
      }
      .start()
  }

  /**
   * S1 front door: a pluggable broker/file source of raw envelopes →
   * selector pruning → FIMP decode → the shared streaming pipeline.
   * The selector topic predicates run BEFORE the JSON decode (an RLIKE
   * on the topic column), so non-subscribed traffic never pays the
   * parse — the in-plan equivalent of the reference's per-selector MQTT
   * subscriptions (process.go:456-463).
   */
  def runFromSource(spark: org.apache.spark.sql.SparkSession,
      source: graft.sources.StreamSource, config: ProcessConfig,
      metadata: Option[DataFrame], store: TierStore,
      checkpoint: String): StreamingQuery = {
    val env = source.load(spark)
    val pruned =
      if (config.selectors.nonEmpty)
        env.filter(TopicMatch.anySelector(env("topic"), config.selectors.map(_.topic)))
      else env
    runStream(graft.sources.LogReplay.decodeEnvelope(pruned), config, metadata, store, checkpoint)
  }
}
