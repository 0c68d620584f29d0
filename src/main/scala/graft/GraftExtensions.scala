package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.{DecodeFrameFunction, PgBinaryTextFunction, StringMetricFunctions, TextNormFunctions, VectorFunctions}

/** SparkSessionExtensions entry point: registers the engine's native
  * functions for SQL use and its one planner strategy. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`.
  *
  * The one strategy plans the CDC fold node ([[graft.cdc.FoldRuns]] →
  * [[graft.cdc.FoldRunsExec]]), a row kernel no built-in expresses without
  * a typed object round trip; every other operator is built-ins + the
  * expressions registered here (SURVEY.md §4). A session built without
  * these extensions learns the strategy when it first builds the node. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // Serializer pruning for the filter-on-decode shape Spark's own
    // ObjectSerializerPruning misses (see SerializerFilterPruning): every
    // envelope consumer stops paying per-event serialization for fields it
    // never reads. Joins the operator-optimization fixed point, so it
    // composes with predicate pushdown / column pruning in any order.
    e.injectOptimizerRule(_ => SerializerFilterPruning)
    e.injectPlannerStrategy(_ => graft.cdc.FoldRunsStrategy)
    e.injectFunction((
      FunctionIdentifier(VectorFunctions.fnName),
      VectorFunctions.fnInfo,
      VectorFunctions.fnBuilder))
    e.injectFunction((
      FunctionIdentifier(DecodeFrameFunction.fnName),
      DecodeFrameFunction.fnInfo,
      DecodeFrameFunction.fnBuilder))
    e.injectFunction((
      FunctionIdentifier(PgBinaryTextFunction.fnName),
      PgBinaryTextFunction.fnInfo,
      PgBinaryTextFunction.fnBuilder))
    e.injectFunction((
      FunctionIdentifier(TextNormFunctions.normName),
      TextNormFunctions.normInfo,
      TextNormFunctions.normBuilder))
    e.injectFunction((
      FunctionIdentifier(TextNormFunctions.foldName),
      TextNormFunctions.foldInfo,
      TextNormFunctions.foldBuilder))
    e.injectFunction((
      FunctionIdentifier(StringMetricFunctions.fnName),
      StringMetricFunctions.fnInfo,
      StringMetricFunctions.fnBuilder))
  }
}
