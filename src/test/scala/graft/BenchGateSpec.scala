package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench contention gate, fed synthetic (loadStart, steal, calibStart,
  * calibEnd) tuples (VERDICT r13 #1 "Done =" criterion). The r13 defect:
  * a loadavg_end term self-triggered on the bench's own 32-way work, so a
  * quiet host could never update BENCH_LATEST. The replacement detects
  * mid-run contention via post-run calibration-spin drift instead.
  */
class BenchGateSpec extends AnyFunSuite {
  private val maxLoad = 1.5
  private val maxSteal = 2.0
  private val maxDrift = 1.2
  private def gate(start: Double, steal: Double, c0: Double, c1: Double) =
    Bench.contendedGate(start, steal, c0, c1, maxLoad, maxSteal, maxDrift)

  test("quiet host, stable calibration: not contended") {
    assert(!gate(start = 1.04, steal = 0.23, c0 = 100.0, c1 = 101.0))
  }

  test("the exact r13 driver quarantine (green start/steal, loadEnd 1.81) now passes") {
    // loadavg_end is no longer a gate input at all — a run with green
    // start, green steal, and no calib drift is quiet regardless of how
    // much load the bench's own work put on the 1-minute average
    assert(!gate(start = 1.42, steal = 0.23, c0 = 100.0, c1 = 104.0))
  }

  test("loaded at start: contended") {
    assert(gate(start = 3.97, steal = 0.0, c0 = 100.0, c1 = 100.0))
  }

  test("hypervisor steal at quiet loadavg: contended") {
    // the r13 session's noisy-neighbor case: loadavg 0.44, ~15% steal
    assert(gate(start = 0.44, steal = 15.0, c0 = 100.0, c1 = 100.0))
  }

  test("mid-run contention via calibration drift: contended") {
    // quiet at start, but the post-run single-thread spin runs 1.35x
    // slower — something else ate cycles mid-run (the day-vs-night case)
    assert(gate(start = 0.50, steal = 0.1, c0 = 100.0, c1 = 135.0))
  }

  test("drift just under the threshold: not contended") {
    assert(!gate(start = 0.50, steal = 0.1, c0 = 100.0, c1 = 119.0))
  }

  test("degenerate zero start-calibration never divides by zero or trips") {
    assert(!gate(start = 0.50, steal = 0.1, c0 = 0.0, c1 = 135.0))
    assert(!gate(start = 0.50, steal = 0.1, c0 = 100.0, c1 = 0.0))
  }

  test("warm START that goes quiet mid-run: contended (the r18 blind spot)") {
    // the exact r18 record: loadavg_start 1.45 (just under the gate),
    // steal 1.37, calib 393.5 -> 301.3 — the machine was BUSY during the
    // start calibration and the early queries, then went quiet, so the
    // one-directional drift ratio (0.77) sailed under a gate meant to
    // catch the opposite case. Symmetric drift quarantines it.
    assert(gate(start = 1.45, steal = 1.37, c0 = 393.5, c1 = 301.3))
  }

  test("quiet_record points at the newest quiet record taken at the same cpus") {
    val records = Seq(
      "BENCH_FULL_r20-3.json" -> """{"metric":"total","cpus":32,"contended":true}""",
      "BENCH_FULL_r20-2.json" -> """{"metric":"total","cpus":8}""",
      "BENCH_FULL_r20-1.json" -> """{"metric":"total","cpus":32}""",
      "BENCH_FULL_r19.json" -> """{"metric":"total","value":1.0}""")
    assert(Bench.quietSibling(records, 32).contains("BENCH_FULL_r20-1.json"))
    assert(Bench.quietSibling(records, 8).contains("BENCH_FULL_r20-2.json"))
    // a record without "cpus" cannot be shown comparable
    assert(Bench.quietSibling(records, 4).isEmpty)
  }

  test("every Files.list stream in src/main closes in a finally (fd-leak gate)") {
    // Files.list holds a directory fd until closed (its javadoc mandates
    // try-with-resources). ADVICE r17 flagged one bare site; the r18 fix
    // closed it but the identical pattern four lines down stayed bare
    // (VERDICT r18 wrong #1) — so the PATTERN gets a gate, not the site:
    // every occurrence must be followed by a finally-close within its
    // lexical neighborhood.
    import scala.jdk.CollectionConverters._
    val srcs = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val offenders = try {
      srcs.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".scala"))
        .flatMap { p =>
          val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          Iterator.unfold(text.indexOf("Files.list(")) { i =>
            if (i < 0) None
            else Some((i, text.indexOf("Files.list(", i + 1)))
          }.collect { case i
            if !{ val w = text.slice(i, math.min(text.length, i + 900))
                  w.contains("finally") && w.contains(".close()") } =>
            s"$p@${text.take(i).count(_ == '\n') + 1}"
          }
        }.toSeq
    } finally srcs.close()
    assert(offenders.isEmpty,
      s"bare Files.list (no finally-close within 900 chars): $offenders")
  }
}
