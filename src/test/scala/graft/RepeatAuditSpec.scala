package graft

import graft.tools.RepeatAudit

class RepeatAuditSpec extends SparkSpecBase {

  test("self-test: the uncut wedge plan is flagged heavy, linkPredictionTopK is not") {
    RepeatAudit.selfTest(spark, sfDir)
  }
}
