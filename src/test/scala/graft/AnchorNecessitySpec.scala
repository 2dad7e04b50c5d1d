package graft

import java.util.regex.Pattern
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.derive.{AnchorGuard, Extract, RlExample, StepExtract, UgBuilders, UgExample}

/** Machine-check of the AnchorGuard safety condition: an anchor set is
  * NECESSARY for its regex — whenever the pattern matches a string, every
  * anchor group has a literal present in the ASCII-folded string. A guard
  * that fails this would silently skip a matchable regex (a wrong-answer
  * bug, not a perf bug), so the claim must not rest on hand inspection:
  * this property pins it against future pattern or anchor edits.
  */
class AnchorNecessitySpec extends SparkTestBase {

  private def families: Seq[(String, Seq[String], Array[Array[Array[String]]])] = Seq(
    ("RlExample/Extract.StepPatterns",
      Extract.StepPatterns, RlExample.StepAnchors),
    ("StepExtract/AnalyserStepPatterns",
      Extract.AnalyserStepPatterns, StepExtract.StepAnchors),
    ("UgExample/UgStepPatterns",
      UgBuilders.UgStepPatterns.map(_._1), UgExample.StepAnchors),
    ("UgExample/UgProblemStmtPatterns",
      UgBuilders.UgProblemStmtPatterns.map(_._1), UgExample.StmtAnchors),
    ("UgExample/ConceptPatterns",
      Extract.ConceptPatterns, UgExample.ConceptAnchors),
    // round-6 guard extensions (fallbacks + block/concept batteries)
    ("RlExample/Extract.AnswerPatterns",
      Extract.AnswerPatterns, RlExample.AnswerAnchors),
    ("BlockExtract/CompleteDerivationPatterns",
      Extract.CompleteDerivationPatterns, graft.derive.BlockExtract.DerivAnchors),
    ("BlockExtract/WorkedSolutionPatterns",
      Extract.WorkedSolutionPatterns, graft.derive.BlockExtract.SolAnchors),
    ("BlockExtract/ProofPatterns",
      Extract.ProofPatterns, graft.derive.BlockExtract.ProofAnchors),
    ("ConceptExtract/V2EqPatterns",
      graft.derive.BenchmarkBuilders.V2EqPatterns,
      graft.derive.ConceptExtract.V2EqAnchors),
    ("ConceptExtract/V2DerivPatterns",
      graft.derive.BenchmarkBuilders.V2DerivPatterns,
      graft.derive.ConceptExtract.V2DerivAnchors),
    ("ConceptExtract/V2ScenarioPatterns",
      graft.derive.BenchmarkBuilders.V2ScenarioPatterns,
      graft.derive.ConceptExtract.V2ScenAnchors),
    ("ConceptExtract/V2NumPatterns",
      graft.derive.BenchmarkBuilders.V2NumPatterns,
      graft.derive.ConceptExtract.V2NumAnchors),
    ("ConceptExtract/V2PrinciplePatterns",
      graft.derive.BenchmarkBuilders.V2PrinciplePatterns,
      graft.derive.ConceptExtract.V2PrinAnchors),
    ("ConceptExtract/V3EqPatterns",
      graft.derive.BenchmarkBuilders.V3EqPatterns,
      graft.derive.ConceptExtract.V3EqAnchors),
    ("ConceptExtract/V3DerivPatterns",
      graft.derive.BenchmarkBuilders.V3DerivPatterns,
      graft.derive.ConceptExtract.V3DerivAnchors),
    ("ConceptExtract/V3NumPatterns",
      graft.derive.BenchmarkBuilders.V3NumPatterns,
      graft.derive.ConceptExtract.V3NumAnchors),
    ("ConceptExtract/V3ScenarioPatterns",
      graft.derive.BenchmarkBuilders.V3ScenarioPatterns,
      graft.derive.ConceptExtract.V3ScenAnchors))

  // token soup biased to hit the patterns: every anchor literal (random
  // casing), connective filler, math, punctuation, newlines
  private def textGen(literals: Seq[String]): Gen[String] = {
    val caseGen: Gen[String => String] = Gen.oneOf(
      (s: String) => s,
      (s: String) => s.toUpperCase(java.util.Locale.ROOT),
      (s: String) => s.capitalize)
    val tokenGen: Gen[String] = Gen.frequency(
      5 -> (for { l <- Gen.oneOf(literals); f <- caseGen } yield f(l)),
      3 -> Gen.oneOf("the", "a", "of", "energy", "force", "x", "y",
        "particle", "wave", "momentum", "conservation", "equation"),
      2 -> Gen.oneOf("=", "= 3", ":", ".", ",", "\n", "e2e", "42"),
      2 -> Gen.oneOf("= 42 m", "of 42", "is 3.2 eV", "x = 0.5 kg",
        "= 7 Hz and more", "E = 42 J exactly"),
      // shapes the plain literal soup cannot assemble: complete \frac
      // bodies, Schrödinger (both spellings), Q.E.D.-terminated proofs
      1 -> Gen.oneOf("\\frac{a}{b} = c here", "\\frac{x}{2}",
        "Schrödinger equation", "Schrodinger equation of the atom",
        "Q.E.D.", "∇ of the field here", "∂ of x here"),
      1 -> Gen.oneOf("ünïcödé", "İ", "ß", "中文"))
    Gen.chooseNum(3, 25).flatMap(n =>
      Gen.listOfN(n, tokenGen).map(_.mkString(" ") + "."))
  }

  test("anchor sets are necessary: a match implies every group present") {
    families.foreach { case (name, patternStrs, anchors) =>
      assert(patternStrs.length == anchors.length, s"$name arity")
      val ps = patternStrs.map(Pattern.compile)
      val literals = anchors.flatten.flatten.toSeq.distinct
      val matchesPer = Array.fill(ps.length)(0)
      val prop = Prop.forAll(textGen(literals)) { s =>
        val fold = AnchorGuard.asciiLower(s)
        ps.indices.forall { i =>
          val m = ps(i).matcher(s).find()
          if (m) matchesPer(i) += 1
          !m || AnchorGuard.anchored(fold, anchors(i))
        }
      }
      // seeded: the per-pattern floor below must hold on every run, not
      // on most draws of a fresh random seed
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(1200)
          .withInitialSeed(20240517L), prop)
      assert(res.passed, s"$name: ${res.status}")
      // non-vacuous PER PATTERN: every pattern's match->anchored
      // implication must actually fire, or a wrong anchor on a pattern
      // the soup never matches would pass vacuously (the exact
      // silent-skip class this spec exists to prevent)
      val matches = matchesPer.sum
      matchesPer.zipWithIndex.foreach { case (c, i) =>
        assert(c >= 5, s"$name pattern[$i]: only $c matches generated " +
          s"(pattern never exercised — enrich the soup): ${patternStrs(i)}")
      }
      assert(matches > 300, s"$name: only $matches matches generated")
      info(s"$name: $matches matches all anchored " +
        s"(per pattern: ${matchesPer.mkString(",")})")
    }
  }
}
