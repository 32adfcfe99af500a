package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench cpu-regime rule. r19 clamped every request above the
  * measured physical cores (the VM's 32 vCPUs are 16 HT-shared physical
  * cores, invisible from inside the guest — lscpu reports 1 thread/core,
  * and oversubscribed sweeps measure scheduler contention: 32-thread
  * calib 1.9× slower, iterative queries 2–3.4× inflated, ARCHITECTURE.md
  * item 24). The r20 verdict's scaling-block finding: that clamp also
  * silently rewrote the DRIVER's explicit 32-vs-8 scaling contrast into
  * 16-vs-8, making the scaling record uninformative. r21 contract: an
  * EXPLICIT request is honored (with a loud stderr regime warning above
  * the cap); only the DEFAULT is clamped, and the lower bound always
  * holds (`local[0]` dies deep in Spark). This spec keeps the table from
  * regressing silently.
  */
class BenchRegimeSpec extends AnyFunSuite {
  test("the measured physical-core constant is 16") {
    // deliberate double-entry: changing PhysicalCores means the HOST
    // changed — re-measure (calib at both widths, one iterative query)
    // before touching either side
    assert(Bench.PhysicalCores == 16)
  }

  test("requests at or below the physical cores pass through") {
    assert(Bench.resolveCpus(16, explicit = true) == (16, 16))
    assert(Bench.resolveCpus(8, explicit = true) == (8, 8))
    assert(Bench.resolveCpus(1, explicit = true) == (1, 1))
    assert(Bench.resolveCpus(16, explicit = false) == (16, 16))
  }

  test("an explicit request above the physical cores is honored — the " +
      "driver's 32-cpu scaling leg must be real (r20 verdict)") {
    assert(Bench.resolveCpus(32, explicit = true) == (32, 32))
    assert(Bench.resolveCpus(17, explicit = true) == (17, 17))
  }

  test("only a DEFAULT above the physical cores clamps") {
    assert(Bench.resolveCpus(32, explicit = false) == (16, 32))
    assert(Bench.resolveCpus(17, explicit = false) == (16, 17))
  }

  test("zero or negative requests clamp to 1 (local[0] would fail " +
      "deep in Spark), explicit or not") {
    assert(Bench.resolveCpus(0, explicit = true) == (1, 0))
    assert(Bench.resolveCpus(-4, explicit = true) == (1, -4))
    assert(Bench.resolveCpus(0, explicit = false) == (1, 0))
  }

  test("both stdout lines end with the regime fields, then calib_sec " +
      "and parity_sec last") {
    assert(Bench.lineTail(16, 16, 0.08, 5.5) ==
      """"cpus":16,"cpus_requested":16,"physical_cores":16,""" +
      """"oversubscribed":false,"calib_sec":0.08,"parity_sec":5.5}""")
    assert(Bench.lineTail(32, 32, 0.15, 6.0) ==
      """"cpus":32,"cpus_requested":32,"physical_cores":16,""" +
      """"oversubscribed":true,"calib_sec":0.15,"parity_sec":6.0}""")
    // the regime is the RESOLVED thread count: a clamped default runs
    // at the physical cores, not oversubscribed
    assert(Bench.lineTail(16, 32, 0.1, 5.0).contains(
      """"physical_cores":16,"oversubscribed":false,"""))
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Bench.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val end = "${lineTail(cpus, cpusRequested, calib, parity)}\"\"\""
    assert(src.split(java.util.regex.Pattern.quote(end), -1).length - 1 == 2,
      "both of Bench's JSON lines must end with lineTail")
  }
}
