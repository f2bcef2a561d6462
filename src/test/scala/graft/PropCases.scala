package graft

import org.scalacheck.Test

/** A property suite's own case count, unless the command line asks for
  * one: `testOnly <suite> -- -minSuccessfulTests N` reaches
  * `overrideParameters` already applied, so a suite that sets its count
  * unconditionally silently ignores it. A count equal to ScalaCheck's
  * default (100) cannot be told apart from no request and gives the
  * suite's own. */
object PropCases {
  def apply(p: Test.Parameters, suiteCount: Int): Test.Parameters =
    if (p.minSuccessfulTests != Test.Parameters.default.minSuccessfulTests) p
    else p.withMinSuccessfulTests(suiteCount)
}
