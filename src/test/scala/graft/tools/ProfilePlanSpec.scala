package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** `Profile plan` dumps are byte-stable: the ids a session allocates are
  * renumbered by first appearance, so two runs of one plan print the same
  * text and two different plans still differ.
  */
class ProfilePlanSpec extends AnyFunSuite {

  /** One plan as a session prints it, with that session's ids. */
  private def dump(rdd: Int, expr: Int, plan: Int, hash: String,
                   lambda: Int, stage: Int) =
    s"""(1) Scan ExistingRDD [codegen id : ${lambda % 7 + 3}]
       |Output [2]: [id#${expr}L, v#${expr + 1}]
       |Arguments: [id#${expr}L, v#${expr + 1}], MapPartitionsRDD[$rdd] at localCheckpoint at GraphOps.scala:51
       |Input [1]: [id#${expr}L] plan_id=$plan, plan_id=${plan + 7}
       |Condition : NOT id#${expr}L IN ([J@$hash) AND NOT id#${expr}L IN ([J@$hash)
       |Arguments: graft.media.Media$$$$$$Lambda$$$lambda/0x00007f3a1c4e2a08@6d1e$hash, [Ljava.lang.String;@$hash
       |Output [1]: [transform(org.apache.spark.sql.catalyst.expressions.UnsafeArrayData@9$hash, lambdafunction(lambda x_$lambda#${expr + 2}, lambda x_$lambda#${expr + 2}, false))]
       |
       |(2) ShuffleQueryStage
       |Output [1]: [id#${expr}L]
       |Arguments: $stage
       |""".stripMargin

  test("expression, plan, RDD, lambda, codegen and stage ids and identity hashes normalize") {
    val a = Profile.normalizePlan(dump(17, 1203, 40, "1b2c3d", 130, 4))
    val b = Profile.normalizePlan(dump(171, 88, 3, "5e6f70", 44, 9))
    assert(a == b)
    Seq("[codegen id : 1]", "MapPartitionsRDD[1] at localCheckpoint",
      "[id#1L, v#2]", "plan_id=1, plan_id=2",
      "IN ([J@h1) AND NOT id#1L IN ([J@h1)",
      "Media$$$Lambda@h1, [Ljava.lang.String;@h1",
      "UnsafeArrayData@h1, lambdafunction(lambda x_1#3, lambda x_1#3",
      "ShuffleQueryStage\nOutput [1]: [id#1L]\nArguments: 1")
      .foreach(s => assert(a.contains(s), s))
    Seq("1203", "1b2c3d", "0x00007f3a1c4e2a08", "[17]", "x_130")
      .foreach(id => assert(!a.contains(id), id))
  }

  test("a changed plan still differs after normalizing") {
    val a = Profile.normalizePlan("Project [a#5, b#6]\n+- Filter (a#5 > 1)")
    val b = Profile.normalizePlan("Project [a#9, b#7]\n+- Filter (b#7 > 1)")
    assert(a == "Project [a#1, b#2]\n+- Filter (a#1 > 1)")
    assert(a != b)
  }
}
