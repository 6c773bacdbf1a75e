package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.{FloatVecDot, FnvHash64, MisraGries, NfcNormalize, TopKStruct}

/** SparkSessionExtensions entry point: wires the engine's native
  * Catalyst expressions into any session built with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — the
  * deployment-grade alternative to registering each function on first
  * use (SURVEY §7.3: extensions are the sanctioned injection point; no
  * session-state mutation after build). Each function's builder is the
  * one its column form registers in sessions built without extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    Seq(FnvHash64.function, FloatVecDot.function, TopKStruct.function,
      NfcNormalize.function, MisraGries.function)
      .foreach(f => ext.injectFunction(f.description))
}
