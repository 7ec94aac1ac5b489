package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[PlanDump.normalize]]: one plan written by two runs reads the same. */
class PlanDumpSpec extends AnyFunSuite {

  /** One count-distinct plan (`index_batch_vocab_drift`) as two runs of
    * one commit printed it: the distinct groups `tok` and `CASE WHEN …`
    * swapped their `gid` and their Expand columns. */
  private val runA =
    """(25) Expand
      |Input [4]: [tok, cL, source, known]
      |Arguments: [[source, null, null, 0, cL, CASE WHEN isnull(known) THEN cL ELSE 0 END], [source, tok, null, 1, null, null], [source, null, CASE WHEN isnull(known) THEN tok END, 2, null, null]], [source, tok, CASE WHEN (known IS NULL) THEN tok END, gid, cL, CASE WHEN (known IS NULL) THEN c ELSE 0L ENDL]
      |
      |(26) HashAggregate
      |Input [6]: [source, tok, CASE WHEN (known IS NULL) THEN tok END, gid, cL, CASE WHEN (known IS NULL) THEN c ELSE 0L ENDL]
      |Keys [4]: [source, tok, CASE WHEN (known IS NULL) THEN tok END, gid]
      |Functions [2]: [partial_sum(cL), partial_sum(CASE WHEN (known IS NULL) THEN c ELSE 0L ENDL)]
      |Aggregate Attributes [2]: [sumL, sumL]
      |Results [6]: [source, tok, CASE WHEN (known IS NULL) THEN tok END, gid, sumL, sumL]
      |
      |(27) Exchange
      |Input [6]: [source, tok, CASE WHEN (known IS NULL) THEN tok END, gid, sumL, sumL]
      |Arguments: hashpartitioning(source, tok, CASE WHEN (known IS NULL) THEN tok END, gid, 4), ENSURE_REQUIREMENTS, [plan_id=]
      |
      |(28) HashAggregate
      |Input [6]: [source, tok, CASE WHEN (known IS NULL) THEN tok END, gid, sumL, sumL]
      |Keys [4]: [source, tok, CASE WHEN (known IS NULL) THEN tok END, gid]
      |Functions [2]: [sum(cL), sum(CASE WHEN (known IS NULL) THEN c ELSE 0L ENDL)]
      |Aggregate Attributes [2]: [sum(cL)L, sum(CASE WHEN (known IS NULL) THEN c ELSE 0L ENDL)L]
      |Results [6]: [source, tok, CASE WHEN (known IS NULL) THEN tok END, gid, sum(cL)L AS sum(c)L, sum(CASE WHEN (known IS NULL) THEN c ELSE 0L ENDL)L AS sum(CASE WHEN (known IS NULL) THEN c ELSE 0L END)L]
      |
      |(29) HashAggregate
      |Input [6]: [source, tok, CASE WHEN (known IS NULL) THEN tok END, gid, sum(c)L, sum(CASE WHEN (known IS NULL) THEN c ELSE 0L END)L]
      |Keys [1]: [source]
      |Functions [4]: [partial_first(sum(c)L, true) FILTER (WHERE (gid = 0)), partial_count(tok) FILTER (WHERE (gid = 1)), partial_first(sum(CASE WHEN (known IS NULL) THEN c ELSE 0L END)L, true) FILTER (WHERE (gid = 0)), partial_count(CASE WHEN (known IS NULL) THEN tok END) FILTER (WHERE (gid = 2))]
      |Aggregate Attributes [6]: [firstL, valueSet, countL, firstL, valueSet, countL]""".stripMargin
  private val runB =
    """(25) Expand
      |Input [4]: [tok, cL, source, known]
      |Arguments: [[source, null, null, 0, cL, CASE WHEN isnull(known) THEN cL ELSE 0 END], [source, CASE WHEN isnull(known) THEN tok END, null, 1, null, null], [source, null, tok, 2, null, null]], [source, CASE WHEN (known IS NULL) THEN tok END, tok, gid, cL, CASE WHEN (known IS NULL) THEN c ELSE 0L ENDL]
      |
      |(26) HashAggregate
      |Input [6]: [source, CASE WHEN (known IS NULL) THEN tok END, tok, gid, cL, CASE WHEN (known IS NULL) THEN c ELSE 0L ENDL]
      |Keys [4]: [source, CASE WHEN (known IS NULL) THEN tok END, tok, gid]
      |Functions [2]: [partial_sum(cL), partial_sum(CASE WHEN (known IS NULL) THEN c ELSE 0L ENDL)]
      |Aggregate Attributes [2]: [sumL, sumL]
      |Results [6]: [source, CASE WHEN (known IS NULL) THEN tok END, tok, gid, sumL, sumL]
      |
      |(27) Exchange
      |Input [6]: [source, CASE WHEN (known IS NULL) THEN tok END, tok, gid, sumL, sumL]
      |Arguments: hashpartitioning(source, CASE WHEN (known IS NULL) THEN tok END, tok, gid, 4), ENSURE_REQUIREMENTS, [plan_id=]
      |
      |(28) HashAggregate
      |Input [6]: [source, CASE WHEN (known IS NULL) THEN tok END, tok, gid, sumL, sumL]
      |Keys [4]: [source, CASE WHEN (known IS NULL) THEN tok END, tok, gid]
      |Functions [2]: [sum(cL), sum(CASE WHEN (known IS NULL) THEN c ELSE 0L ENDL)]
      |Aggregate Attributes [2]: [sum(cL)L, sum(CASE WHEN (known IS NULL) THEN c ELSE 0L ENDL)L]
      |Results [6]: [source, CASE WHEN (known IS NULL) THEN tok END, tok, gid, sum(cL)L AS sum(c)L, sum(CASE WHEN (known IS NULL) THEN c ELSE 0L ENDL)L AS sum(CASE WHEN (known IS NULL) THEN c ELSE 0L END)L]
      |
      |(29) HashAggregate
      |Input [6]: [source, CASE WHEN (known IS NULL) THEN tok END, tok, gid, sum(c)L, sum(CASE WHEN (known IS NULL) THEN c ELSE 0L END)L]
      |Keys [1]: [source]
      |Functions [4]: [partial_first(sum(c)L, true) FILTER (WHERE (gid = 0)), partial_count(tok) FILTER (WHERE (gid = 2)), partial_first(sum(CASE WHEN (known IS NULL) THEN c ELSE 0L END)L, true) FILTER (WHERE (gid = 0)), partial_count(CASE WHEN (known IS NULL) THEN tok END) FILTER (WHERE (gid = 1))]
      |Aggregate Attributes [6]: [firstL, valueSet, countL, firstL, valueSet, countL]""".stripMargin

  test("distinct-aggregate groups print in one order whatever the run") {
    assert(runA !== runB)
    assert(PlanDump.normalize(runA) === PlanDump.normalize(runB))
    assert(PlanDump.normalize(runB) === runB)
    assert(PlanDump.normalize(PlanDump.normalize(runA)) === PlanDump.normalize(runA))
  }
}
