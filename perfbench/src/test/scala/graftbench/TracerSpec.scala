package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** Job descriptions map to the write phase that ran them. */
class TracerSpec extends AnyFunSuite {

  test("a job takes the phase its label names") {
    assert(Tracer.phase("graft.stage:write r1-load-6") == Some("stage_write"))
    assert(Tracer.phase("graft.stage:bloom r1-load-6") == Some("stage_bloom"))
    assert(Tracer.phase("graft.merge:probe r1-load-6") == Some("merge_probe"))
    assert(Tracer.phase("graft.maint:apply-deletes graft.r1.orders") ==
      Some("maint_apply_deletes"))
    assert(Tracer.phase("dedup_r1 id = 1") == None)
  }

  test("a staging job takes its caller's phase from the id it stages under") {
    assert(Tracer.phase("graft.stage:write apply-deletes") == Some("maint_apply_deletes"))
    assert(Tracer.phase("graft.stage:bloom apply-deletes") == Some("maint_apply_deletes"))
    assert(Tracer.phase("graft.stage:write compact") == Some("maint_compact"))
    assert(Tracer.phase("graft.stage:write r1-load-6-rw") == Some("merge_rewrite"))
  }

  test("every phase a job can map to is reported") {
    val descs = Seq("graft.stage:write x", "graft.stage:stats x", "graft.stage:bloom x",
      "graft.stage:sketch x", "graft.merge:keys x", "graft.merge:ranges x",
      "graft.merge:probe x", "graft.stage:write x-rw", "graft.stage:write compact",
      "graft.stage:write apply-deletes")
    assert(descs.flatMap(Tracer.phase).toSet == Tracer.Phases.toSet)
  }
}
