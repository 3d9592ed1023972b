package graft

/** Every face in `SparkEntry.queries` has exactly one DuckDB oracle: the
  * static map and the run-time generated oracles together cover the face
  * list, no face is in both, and every generator group builds.
  */
class OracleSqlSpec extends SparkSpecBase {

  test("static and generated oracles cover every face exactly once") {
    val (dynamic, errors) = SparkEntry.oracleSqlDynamicSafe(spark, Sf)
    assert(errors.isEmpty, s"oracle generators failed: $errors")
    val static = SparkEntry.oracleSql.keySet
    assert((static & dynamic.keySet).isEmpty, "static oracles also generated")
    val faces = SparkEntry.queries.keySet
    val covered = static ++ dynamic.keySet
    assert((faces -- covered).isEmpty, "faces without an oracle")
    assert((covered -- faces).isEmpty, "oracles without a face")
  }
}
