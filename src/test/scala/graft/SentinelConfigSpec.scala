package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps sentinels.json and the Sentinel op registry in lockstep: a
  * renamed/removed op must fail HERE, not silently drop out of the
  * scale gate. Also pins the ceiling POLICY (ceiling = exactly
  * ceil(CeilingMultiplier × receipt), note text identical to what
  * `--record` emits) so a routine re-record can never silently tighten
  * or loosen the gate (ADVICE r11: --record drifted to 1.5× while the
  * adopted, documented policy was 2×).
  */
class SentinelConfigSpec extends AnyFunSuite {

  private def root = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File("sentinels.json"))

  private def checkOpsNode(ops: com.fasterxml.jackson.databind.JsonNode,
      where: String): Int = {
    val registry = Sentinel.opNames.toSet
    val it = ops.fieldNames()
    var n = 0
    while (it.hasNext) {
      val name = it.next(); n += 1
      assert(registry.contains(name), s"$where op '$name' not in registry")
      val ceiling = ops.get(name).get("ceiling_sec").asDouble()
      val receipt = ops.get(name).get("receipt_sec").asDouble()
      assert(ceiling == Sentinel.ceilingFor(receipt),
        s"$where $name: ceiling $ceiling != ceil(${Sentinel.CeilingMultiplier} x " +
          s"$receipt) — the file and the --record policy have drifted")
    }
    n
  }

  test("sentinels.json must be checked in at the repo root") {
    assert(new java.io.File("sentinels.json").isFile)
  }

  test("100x: every op exists in the registry, ceilings follow the policy") {
    val n = checkOpsNode(root.get("ops"), "100x")
    assert(n >= 10, "the gate covers the 13 collapse/join-shape-critical ops")
  }

  test("100x: every registry op is gated") {
    val ops = root.get("ops")
    Sentinel.opNames.foreach { name =>
      assert(ops.has(name), s"registry op '$name' missing from sentinels.json")
    }
  }

  test("note text matches what --record emits (policy cannot drift)") {
    assert(root.get("note").asText() == Sentinel.note("100x"))
  }

  test("1000x tier: recorded, ops match the tier definition, same policy") {
    val t = root.get("tier_1000x")
    assert(t != null, "tier_1000x receipts missing — run " +
      "`graft.Sentinel --tier 1000x --record` and check in the output")
    assert(t.get("note").asText() == Sentinel.note("1000x"))
    assert(t.get("copies").asInt() == 1000)
    val n = checkOpsNode(t.get("ops"), "1000x")
    val tierOps = Sentinel.Tiers("1000x").opNames
    assert(n == tierOps.size)
    tierOps.foreach(o => assert(t.get("ops").has(o),
      s"1000x tier op '$o' missing from tier_1000x.ops"))
  }

  test("every tier's op list is drawn from the registry") {
    val registry = Sentinel.opNames.toSet
    Sentinel.Tiers.values.foreach { tier =>
      tier.opNames.foreach(o => assert(registry.contains(o),
        s"tier ${tier.name} references unknown op '$o'"))
    }
  }
}
