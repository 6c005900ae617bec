package graft

/** O15 — lifecycle/config (reference `synchronous-pull.js:15-21`): the five
  * required knobs, validated up front with a fatal error listing everything
  * missing (the reference exits 1 on the first missing var; we report all).
  *
  * `maxEventsPerBatch` plays the reference's `MAX_EVENTS_PER_BATCH` role
  * twice: as the file source's `maxFilesPerTrigger`, where it caps the
  * FILES (pulls) per micro-batch, not the events (a file holds many
  * envelopes), and as the sink's `maxPerRequest`, the events per POST
  * body. Graceful shutdown is `query.stop()` on a JVM shutdown hook — the
  * SIGINT/SIGTERM analog (`synchronous-pull.js:36-42`).
  */
final case class GraftConfig(
    amplitudeApiKey: String,
    hmacKey: String,
    maxEventsPerBatch: Int,
    sourceDir: String, // PUBSUB_PROJECT/SUBSCRIPTION analog: the stream source
    checkpointDir: String, // the ack ledger analog
    maxRetries: Int = 3,
    httpTimeoutMs: Int = 5000)

object GraftConfig {
  private val Required = Seq(
    "AMPLITUDE_API_KEY", "HMAC_KEY", "MAX_EVENTS_PER_BATCH",
    "GRAFT_SOURCE_DIR", "GRAFT_CHECKPOINT_DIR")

  /** Build from the environment; throws with the full list of missing
    * variables (reference `startup.error`, `synchronous-pull.js:18-21`). */
  def fromEnv(env: Map[String, String] = sys.env): GraftConfig = {
    val missing = Required.filterNot(env.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"missing required environment variables: ${missing.mkString(", ")}")
    GraftConfig(
      amplitudeApiKey = env("AMPLITUDE_API_KEY"),
      hmacKey = env("HMAC_KEY"),
      maxEventsPerBatch = env("MAX_EVENTS_PER_BATCH").toInt,
      sourceDir = env("GRAFT_SOURCE_DIR"),
      checkpointDir = env("GRAFT_CHECKPOINT_DIR"),
      maxRetries = env.getOrElse("MAX_RETRIES", "3").toInt,
      httpTimeoutMs = env.getOrElse("HTTP_TIMEOUT_MS", "5000").toInt)
  }
}
