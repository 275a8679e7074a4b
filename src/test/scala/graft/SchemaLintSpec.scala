package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Driver-compatibility lint over every registered query's result
  * schema: the driver's oracle compare sorts the result frame with
  * pandas (`sort_values` → `factorize` → hash), which cannot sort or
  * hash array/map-typed cells — a top-level `ArrayType`/`MapType`
  * column therefore passes NO driver check even when the values are
  * right (the exact crack `q_feature_hash`/`q_inverted_index` fell
  * through in r14); struct cells hit the same pandas wall (and
  * check.py's pyarrow `is_nested` reject). Vector-ish results must
  * serialize to a canonical string (`array_join`/`concat_ws` + DuckDB
  * `array_to_string`) or unpack to scalar rows. `scripts/check.py`
  * enforces the same rule on the python side (`nested_cols`), so
  * green-local implies green-driver. Schema access is analysis-only — no query executes
  * here except the documented eager builders (q_mmr_rerank). */
class SchemaLintSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  // q_sorted_write writes its per-process output while it is built
  deleteAfterAll(java.nio.file.Paths.get(ops.Combine.sortedWriteDir(sf)))

  test("no query result schema carries a top-level array, map, or struct column") {
    GraftExtensions.register(spark)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, build) =>
        val bad = build(spark, sf).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
                    f.dataType.isInstanceOf[MapType] ||
                    f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
        bad
    }
    assert(offenders.isEmpty,
      s"driver-unhashable result columns (serialize to string or unpack " +
        s"to scalar rows):\n  ${offenders.mkString("\n  ")}")
  }
}
