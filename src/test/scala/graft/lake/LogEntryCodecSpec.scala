package graft.lake

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.Snapshots.LiteSnapshot

/** The version-object codec ([[Snapshots.LiteSnapshot]]) as a pure
  * function pair, no Spark session: whatever a commit records must
  * decode to the same record, under exactly the log object's keys plus
  * the format stamp. */
class LogEntryCodecSpec extends AnyFunSuite {

  /** The keys a version object carried before the format stamp. */
  private val LogKeys = Set("version", "ts", "op", "ref", "manifests",
    "deletes", "renames", "drops", "constraints", "partition_spec",
    "defaults", "addcols", "properties", "msum")

  private val name: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr, Gen.asciiPrintableStr,
    Gen.oneOf("", "q\"uote", "back\\slash", "tab\tnl\n", "unié中"))
  private val pairs = Gen.listOf(Gen.zip(name, name))
  private val interval = for {
    a <- Gen.chooseNum(-1e12, 1e12)
    b <- Gen.chooseNum(-1e12, 1e12)
  } yield (math.min(a, b), math.max(a, b))

  private val entry: Gen[LiteSnapshot] = for {
    version <- Gen.chooseNum(1, Int.MaxValue)
    manifests <- Gen.listOf(Gen.identifier)
    summaries <- Gen.mapOf(Gen.zip(Gen.identifier,
      Gen.mapOf(Gen.zip(name, interval))))
    deletes <- Gen.listOf(name)
    renames <- pairs
    drops <- Gen.listOf(Gen.zip(name, Gen.chooseNum(0, 1000),
      Gen.listOf(name)))
    ts <- Gen.chooseNum(0L, Long.MaxValue)
    op <- name
    constraints <- pairs
    spec <- Gen.listOf(name)
    ref <- name
    defaults <- pairs
    properties <- Gen.mapOf(Gen.zip(name, name))
    addedColumns <- pairs
    sources <- Gen.listOf(name)
  } yield LiteSnapshot(version, manifests, summaries, deletes, renames,
    drops, ts, op, constraints, spec, ref, defaults, properties,
    addedColumns, sources)

  test("parse(render(e)) == e, under the log keys plus the format stamp") {
    val roundTrip = Prop.forAll(entry) { e =>
      val json = LiteSnapshot.render(e)
      val keys = Json.parseObject(json).keySet
      val want = LogKeys + "format" ++
        (if (e.ingestSources.isEmpty) Set.empty[String]
        else Set("ingest_sources"))
      Prop(LiteSnapshot.parse("v.json", json) == e) :| "round trip" &&
        Prop(keys == want) :| s"keys $keys"
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(300).withMaxSize(20),
      roundTrip)
    assert(result.passed, result.status.toString)
  }
}
