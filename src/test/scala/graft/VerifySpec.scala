package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `Verify`'s gate selection: a filtered run must write oracle entries
  * for exactly the gates it ran (selfcheck counts an oracle gate with no
  * output as a failure), and an unfiltered run for every oracle gate. */
class VerifySpec extends AnyFunSuite {

  private def oracleNames(gates: Seq[String]): Set[String] =
    new ObjectMapper().readTree(Verify.oracleJson(gates))
      .fieldNames().asScala.toSet

  test("a filtered run's oracle file names exactly the selected gates") {
    val gates = Verify.selectGates(Some("q1_pricing_summary, multimodal_features,"))
    assert(gates === Seq("multimodal_features", "q1_pricing_summary"))
    assert(oracleNames(gates) === gates.toSet)
  }

  test("an unfiltered run covers every gate and every oracle") {
    val gates = Verify.selectGates(None)
    assert(gates === SparkEntry.queries.keys.toSeq.sorted)
    assert(oracleNames(gates) === SparkEntry.oracleSql.keySet)
    val sql = new ObjectMapper().readTree(Verify.oracleJson(gates))
    SparkEntry.oracleSql.foreach { case (name, q) =>
      assert(sql.get(name).asText === q, name)
    }
  }
}
