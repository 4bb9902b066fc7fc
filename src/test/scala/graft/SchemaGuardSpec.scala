package graft

import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}

/** Output-schema guard for EVERY registered query: the round-11
  * `inverted_index` incident class. The adjudicating harness
  * canonicalizes row order by lexsorting all columns in pandas and
  * hashes cell values — a bare array/struct/map/binary column is
  * unhashable there (numpy arrays: `TypeError: unhashable type`), so
  * a semantically-correct query with such a column is UNVERIFIABLE by
  * the harness that matters. House rule: nested/opaque values leave a
  * registered plan joined or hex-encoded to a scalar
  * (secondarySortFull's array_join pattern, the frames face's
  * md5-of-hex). The same guard runs against the materialized Verify
  * output in tools/check_oracle.py; this spec catches the class at
  * `sbt test` time, before a gate run.
  *
  * Cost note: `df.schema` needs only analysis, but a minority of
  * queries do real work at CONSTRUCTION (streaming settles, scratch
  * writes, Lloyd/fixpoint driver loops). The schemas come from the
  * shared walk ([[ShuffleCensus.surface]]), which constructs every
  * query at sf0.001 once for all the whole-surface checks, so this
  * spec adds no construction of its own and needs no hand-pinned
  * skip list that could silently rot.
  */
class SchemaGuardSpec extends SparkSpecBase {

  private def offending(st: StructType): Seq[String] =
    st.fields.toSeq.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[StructType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType == BinaryType =>
        s"${f.name}: ${f.dataType.simpleString}"
    }

  test("no registered query exposes array/struct/map/binary output columns") {
    val bad = surface.queries.flatMap { q =>
      val cols = offending(q.schema)
      if (cols.isEmpty) None else Some(s"${q.name} -> ${cols.mkString(", ")}")
    }
    assert(bad.isEmpty, s"non-scalar output columns:\n${bad.mkString("\n")}")
  }
}
