package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[datasources]` hive-path decoder, so the graft
  * library decodes partition directories exactly as Spark's file index does.
  */
object GraftPartitionShim {
  /** The partition schema of `dirs` under `base`, and each dir's values,
    * as a file index rooted at `base` decodes them under `s`'s SQL conf:
    * types from `schema` when given, unescaping, and
    * `__HIVE_DEFAULT_PARTITION__` as NULL. Nothing is listed.
    */
  def parsePartitions(s: SparkSession, base: Path, dirs: Seq[Path],
                      schema: Option[StructType]): (StructType, Map[Path, InternalRow]) = {
    val (c, fs) = (s.sessionState.conf, base.getFileSystem(s.sessionState.newHadoopConf()))
    val spec = PartitioningUtils.parsePartitions(dirs.map(fs.makeQualified), c.partitionColumnTypeInferenceEnabled,
      Set(fs.makeQualified(base)), schema, c.caseSensitiveAnalysis, c.validatePartitionColumns,
      c.sessionLocalTimeZone, c.ignoreInvalidPartitionPaths)
    val byDir = spec.partitions.map(p => p.path -> p.values).toMap
    (spec.partitionColumns, dirs.flatMap(d => byDir.get(fs.makeQualified(d)).map(d -> _)).toMap)
  }
}
