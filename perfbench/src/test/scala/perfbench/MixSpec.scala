package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MixSpec extends AnyFunSuite {

  test("every cycle weighs the templates alike and variants take turns") {
    val variants = SearchReq.Templates.toMap
    val cycles = (0 until 6).map(SearchReq.cycle)
    cycles.foreach { c =>
      assert(c.size == SearchReq.Templates.size * SearchReq.PerTemplate)
      assert(c.groupBy(_._1).values.forall(_.size == SearchReq.PerTemplate))
      assert(c.forall { case (t, v) => v >= 0 && v < variants(t) })
    }
    // the same order in every cycle; over six cycles each variant of a
    // template is drawn equally often
    assert(cycles.map(_.map(_._1)).distinct.size == 1)
    cycles.flatten.groupBy(_._1).foreach { case (t, slots) =>
      val perVariant = slots.groupBy(_._2).values.map(_.size).toSet
      assert(perVariant.size == 1, s"$t variants drawn unequally")
      assert(slots.map(_._2).toSet.size == variants(t))
    }
    assert(SearchReq.AllVariants.size == variants.values.sum)
  }

  test("the heavy stage is the one with the most task time") {
    val g = new GroupStats
    g.stages ++= Seq(1 -> (8L, 100L), 2 -> (2L, 900L), 3 -> (4L, 300L))
    assert(g.heavyStageTasks == 2)
    val sum = new GroupStats
    sum.add(g)
    sum.add({ val h = new GroupStats; h.stages(4) = (4L, 1000L); h })
    assert(sum.heavyStageTasks == 4)
    assert(new GroupStats().heavyStageTasks == 0)
  }
}
