package graft.config

/** Engine settings mirroring the reference's `Settings`
  * (reference: inception/config.py:5-34). Defaults and ranges are identical;
  * unlike the reference we do not hard-fail outside the documented ranges
  * because the reference's own tests construct services with out-of-range
  * values (e.g. max_tokens=15, tests/test_embedding_service.py:330-345).
  *
  * Only the settings the engine reads are carried: the reference's
  * `max_batch_size`, `max_workers` and `force_cpu` (config.py:26,28,32)
  * bound its HTTP server and device choice, which have no engine twin.
  */
final case class EngineConfig(
    modelName: String = "hashing-768", // config.py:6-9 transformer_model_name
    maxTokens: Int = 512,            // config.py:14-16 (ge=256 le=10000)
    overlapRatio: Double = 0.004,    // config.py:17-22 (ge=0 le=0.01)
    minTextLength: Int = 1,          // config.py:23
    maxQueryLength: Int = 1000,      // config.py:24
    maxTextLength: Int = 10000000,   // config.py:25
    processingBatchSize: Int = 8,    // config.py:27
    enableMetrics: Boolean = true    // config.py:33
) {
  /** reference: embedding_service.py:49 `int(max_tokens * overlap_ratio)` */
  def numOverlapSentences: Int = (maxTokens * overlapRatio).toInt
}

object EngineConfig {
  val default: EngineConfig = EngineConfig()
}
