package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.CosineSimilarity

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions (and is the hook where future planner rules/strategies
  * plug in). Activate with:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   ...
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier(CosineSimilarity.name),
      CosineSimilarity.info,
      CosineSimilarity.builder _))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.CosineSimilarityQ.name),
      graft.functions.CosineSimilarityQ.info,
      graft.functions.CosineSimilarityQ.builder _))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.UnicodeNormalize.name),
      graft.functions.UnicodeNormalize.info,
      graft.functions.UnicodeNormalize.builder _))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.FnvHash64.name),
      graft.functions.FnvHash64.info,
      graft.functions.FnvHash64.builder _))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.FnvHash64Cont.name),
      graft.functions.FnvHash64Cont.info,
      graft.functions.FnvHash64Cont.builder _))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.WordShingles.name),
      graft.functions.WordShingles.info,
      graft.functions.WordShingles.builder _))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.JaroWinkler.name),
      graft.functions.JaroWinkler.info,
      graft.functions.JaroWinkler.builder _))
    // SQL admin surface: SELECT ... FROM graft_history('<root>') /
    // graft_files('<root>'[, version])
    ext.injectTableFunction((
      FunctionIdentifier(graft.table.GraftHistoryFunction.name),
      graft.table.GraftHistoryFunction.info,
      graft.table.GraftHistoryFunction.builder _))
    ext.injectTableFunction((
      FunctionIdentifier(graft.table.GraftFilesFunction.name),
      graft.table.GraftFilesFunction.info,
      graft.table.GraftFilesFunction.builder _))
    ext.injectTableFunction((
      FunctionIdentifier(graft.table.GraftChangesFunction.name),
      graft.table.GraftChangesFunction.info,
      graft.table.GraftChangesFunction.builder _))
    // SQL maintenance statements: OPTIMIZE [CLUSTER BY] / VACUUM —
    // parsed ahead of Spark's grammar, everything else delegates
    ext.injectParser((_, delegate) =>
      new graft.table.GraftSqlParser(delegate))
    // native as-of join planner rule (plans/AsOfJoinNative); the
    // DataFrame API also self-registers via experimental strategies for
    // sessions built without extensions
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // bounded edit-distance comparisons run banded (O(k·n), early exit)
    ext.injectOptimizerRule(_ => graft.plans.RewriteBandedLevenshtein)
    // strip user broadcast hints from relations above the configured
    // ceiling (spark.sql.graft.broadcastGuard.maxBytes) — the 100 TB
    // guard against hinted-fact-table OOMs
    ext.injectOptimizerRule(_ => graft.plans.GuardOversizedBroadcast)
  }
}
