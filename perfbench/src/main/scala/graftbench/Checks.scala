package graftbench

/** Output checks against the generators' planted truth. Each returns the
  * failures it found (empty when the output is correct); they work on
  * collected values so they can be tested without Spark. */
object Checks {

  // ---- pulsar_chain ------------------------------------------------------

  final case class ObsTruth(obsId: String, psr: String, shift: Int, toaUs: Double,
                            lowSnr: Boolean, binPhase: Option[Double])
  final case class PsrTruth(psr: String, betas: Seq[Double])

  def toas(got: Map[String, (Double, Double)], truth: Seq[ObsTruth]): Seq[String] =
    truth.flatMap { o =>
      got.get(o.obsId) match {
        case None => Seq(s"${o.obsId}: no TOA")
        case Some((shift, toa)) =>
          (if (math.abs(shift - o.shift) > 1e-6) Seq(s"${o.obsId}: shift $shift, planted ${o.shift}") else Nil) ++
            (if (math.abs(toa - o.toaUs) > 1e-6) Seq(s"${o.obsId}: toa_us $toa, planted ${o.toaUs}") else Nil)
      }
    } ++ (got.keySet -- truth.map(_.obsId)).toSeq.sorted.map(id => s"$id: TOA for no planted observation")

  def selection(kept: Set[String], truth: Seq[ObsTruth]): Seq[String] = {
    val want = truth.filterNot(_.lowSnr).map(_.obsId).toSet
    (want -- kept).toSeq.sorted.map(id => s"$id: dropped by .select, planted S/N is high") ++
      (kept -- want).toSeq.sorted.map(id => s"$id: kept by .select, planted S/N is low")
  }

  def fit(got: Map[String, Seq[Double]], truth: Seq[PsrTruth]): Seq[String] =
    truth.flatMap { p =>
      got.get(p.psr) match {
        case None => Seq(s"${p.psr}: no fit")
        case Some(b) if b.length != p.betas.length => Seq(s"${p.psr}: ${b.length} parameters fitted")
        case Some(b) =>
          b.zip(p.betas).zipWithIndex.collect {
            case ((x, y), i) if math.abs(x - y) > 1e-6 * math.max(1.0, math.abs(y)) =>
              s"${p.psr}: beta$i $x, planted $y"
          }
      }
    }

  def phases(got: Map[String, Double], truth: Seq[ObsTruth]): Seq[String] =
    truth.filterNot(_.lowSnr).flatMap(o => o.binPhase.map(o.obsId -> _)).flatMap { case (id, want) =>
      got.get(id) match {
        case None => Seq(s"$id: no orbital phase")
        case Some(p) =>
          val d = math.abs(p - want)
          if (!(p >= 0.0 && p < 1.0) || math.min(d, 1.0 - d) > 1e-7) Seq(s"$id: phase $p, planted $want")
          else Nil
      }
    }

  // ---- corpus_cookbook ---------------------------------------------------

  final case class Family(kind: String, ids: Seq[Long])

  /** Exact families collapse to one doc and planted low-quality docs never
    * reach the dedup output. */
  def dedup(survivors: Set[Long], families: Seq[Family], lowQuality: Seq[Long]): Seq[String] =
    families.filter(_.kind == "exact").flatMap { f =>
      val n = f.ids.count(survivors.contains)
      if (n != 1) Seq(s"exact family ${f.ids.mkString(",")}: $n survivors") else Nil
    } ++ lowQuality.filter(survivors.contains).map(id => s"doc $id: planted low quality, survived")

  /** Share of planted duplicate docs (family members beyond one) removed. */
  def dedupRecall(survivors: Set[Long], families: Seq[Family]): Double = {
    val planted = families.map(_.ids.length - 1).sum
    val removed = families.map(f => f.ids.length - f.ids.count(survivors.contains)).sum
    if (planted == 0) 1.0 else removed.toDouble / planted
  }

  def decontaminated(safe: Set[Long], contaminated: Seq[Long]): Seq[String] =
    contaminated.filter(safe.contains).map(id => s"doc $id: contaminated, kept")

  // ---- IvfPq requests (corpus traced run) -------------------------------

  /** A top-k request returns k distinct corpus ids, ranked 1..k in
    * ascending distance. `rows` are (id, distance, rank). */
  def topK(request: String, rows: Seq[(Long, Double, Int)], k: Int, corpus: Set[Long]): Seq[String] = {
    val sorted = rows.sortBy(_._3)
    (if (rows.length != k) Seq(s"$request: ${rows.length} results, want $k") else Nil) ++
      (if (sorted.map(_._3) != (1 to rows.length)) Seq(s"$request: ranks are not 1..${rows.length}") else Nil) ++
      (if (sorted.map(_._2).sliding(2).exists(w => w.length == 2 && w(0) > w(1)))
        Seq(s"$request: distances not ascending by rank") else Nil) ++
      (if (rows.map(_._1).distinct.length != rows.length) Seq(s"$request: repeated ids") else Nil) ++
      rows.map(_._1).filterNot(corpus).sorted.map(id => s"$request: id $id is not in the corpus")
  }

  // ---- every workload ----------------------------------------------------

  /** Every output's checksum repeats across passes: a pass's output checksums against the first timed pass's. */
  def stable(first: Map[String, Long], pass: Map[String, Long]): Seq[String] =
    (first.keySet ++ pass.keySet).toSeq.sorted.filter(k => first.get(k) != pass.get(k))
      .map(k => s"output $k: checksum differs from the first timed pass")
}
