package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graftbench.Checks._

/** Every output check passes on a correct output and fails on a
  * deliberately corrupted one. */
class ChecksSpec extends AnyFunSuite {

  private val obs = Seq(
    ObsTruth("A_0", "A", 5, 1000.0, lowSnr = false, Some(0.25)),
    ObsTruth("A_1", "A", 7, 2000.0, lowSnr = true, Some(0.5)),
    ObsTruth("B_0", "B", 3, 3000.0, lowSnr = false, None))
  private val toaOut = Map("A_0" -> (5.0, 1000.0), "A_1" -> (7.0, 2000.0), "B_0" -> (3.0, 3000.0))

  test("TOAs: planted shifts recovered; a shifted or missing TOA fails") {
    assert(toas(toaOut, obs).isEmpty)
    assert(toas(toaOut.updated("A_0", (6.0, 1000.0)), obs).nonEmpty)
    assert(toas(toaOut.updated("B_0", (3.0, 3000.5)), obs).nonEmpty)
    assert(toas(toaOut - "B_0", obs).nonEmpty)
    assert(toas(toaOut + ("C_0" -> (1.0, 1.0)), obs).nonEmpty)
  }

  test(".select drops exactly the planted low-S/N observations") {
    assert(selection(Set("A_0", "B_0"), obs).isEmpty)
    assert(selection(Set("A_0", "A_1", "B_0"), obs).nonEmpty)
    assert(selection(Set("A_0"), obs).nonEmpty)
  }

  test("fit matches the planted model; a perturbed or missing parameter fails") {
    val truth = Seq(PsrTruth("A", Seq(100.0, 20.0, 0.0)))
    assert(fit(Map("A" -> Seq(100.0, 20.0, 1e-9)), truth).isEmpty)
    assert(fit(Map("A" -> Seq(100.0, 20.1, 0.0)), truth).nonEmpty)
    assert(fit(Map("A" -> Seq(100.0, 20.0)), truth).nonEmpty)
    assert(fit(Map.empty, truth).nonEmpty)
  }

  test("orbital phases match, across the wrap at 1.0; wrong or missing phases fail") {
    assert(phases(Map("A_0" -> 0.25), obs).isEmpty)
    val wrap = Seq(ObsTruth("A_0", "A", 5, 1000.0, lowSnr = false, Some(0.99999999999)))
    assert(phases(Map("A_0" -> 0.0), wrap).isEmpty)
    assert(phases(Map("A_0" -> 0.26), obs).nonEmpty)
    assert(phases(Map("A_0" -> 1.25), obs).nonEmpty)
    assert(phases(Map.empty, obs).nonEmpty)
  }

  private val families = Seq(Family("exact", Seq(1L, 2L, 3L)), Family("near", Seq(10L, 11L)))

  test("dedup: exact families collapse to one doc and low-quality docs are gone") {
    assert(dedup(Set(2L, 10L, 11L, 50L), families, Seq(99L)).isEmpty)
    assert(dedup(Set(1L, 2L, 10L), families, Seq(99L)).nonEmpty)
    assert(dedup(Set(10L), families, Seq(99L)).nonEmpty)
    assert(dedup(Set(2L, 99L), families, Seq(99L)).nonEmpty)
  }

  test("dedup recall is the share of planted copies removed") {
    assert(dedupRecall(Set(2L, 10L), families) == 1.0)
    assert(dedupRecall(Set(2L, 10L, 11L), families) == 2.0 / 3.0)
    assert(dedupRecall(Set(1L, 2L, 3L, 10L, 11L), families) == 0.0)
  }

  test("decontamination removes every planted contaminated doc") {
    assert(decontaminated(Set(1L, 2L), Seq(5L)).isEmpty)
    assert(decontaminated(Set(1L, 5L), Seq(5L)).nonEmpty)
  }

  test("top-k requests: k distinct corpus ids ranked by ascending distance") {
    val corpus = Set(1L, 2L, 3L, 4L)
    val ok = Seq((3L, 0.1, 1), (1L, 0.2, 2), (4L, 0.2, 3))
    assert(topK("r", ok, 3, corpus).isEmpty)
    assert(topK("r", ok.take(2), 3, corpus).nonEmpty)
    assert(topK("r", ok.updated(2, (9L, 0.2, 3)), 3, corpus).nonEmpty)
    assert(topK("r", ok.updated(2, (3L, 0.2, 3)), 3, corpus).nonEmpty)
    assert(topK("r", ok.updated(0, (3L, 0.5, 1)), 3, corpus).nonEmpty)
    assert(topK("r", ok.updated(2, (4L, 0.2, 4)), 3, corpus).nonEmpty)
  }

  test("checksums must repeat across passes") {
    assert(stable(Map("a" -> 1L), Map("a" -> 1L)).isEmpty)
    assert(stable(Map("a" -> 1L), Map("a" -> 2L)).nonEmpty)
    assert(stable(Map("a" -> 1L), Map("a" -> 1L, "b" -> 3L)).nonEmpty)
  }
}
