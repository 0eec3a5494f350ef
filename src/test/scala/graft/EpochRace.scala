package graft

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import scala.reflect.runtime.universe.TypeTag

/** A publish that lands while an append's job runs: a nondeterministic
  * pass-through UDF whose side effect points the `_CURRENT` manifest
  * under `root` at `v00002`. Wrap a column an append into the first
  * epoch writes with it, and the append's own job moves the epoch.
  */
object EpochRace {
  def publishMidAppend[T: TypeTag](root: String): UserDefinedFunction = {
    val manifest = new java.io.File(root, graft.operators.IndexLayout.ManifestName).getPath
    udf { (x: T) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(manifest), "v00002".getBytes("UTF-8"))
      x
    }.asNondeterministic()
  }
}
