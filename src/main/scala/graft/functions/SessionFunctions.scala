package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder

/** Once-per-session registration of the graft native expressions. A
  * Column builder runs on every call, so registering unconditionally
  * would replace the session's builder (and log a replace warning)
  * each time a column is built; this registers only when the name is
  * absent. Names whose builder closes over a table carry that table's
  * fingerprint, so an existing entry under the name is the same
  * builder. */
private[functions] object SessionFunctions {

  /** Register `build` under `name` unless `spark` already holds it;
    * returns `name`. */
  def ensure(spark: SparkSession, name: String)(build: FunctionBuilder)
      : String = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, build, "scala_udf")
    name
  }
}
