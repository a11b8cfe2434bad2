package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {

  private def site(frames: String*) = frames.mkString("\n")

  test("the innermost library frame names the module") {
    assert(Layers.moduleOf(site(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:100)",
      "graft.warehouse.Warehouse.overwriteTouchedPartitions(Warehouse.scala:330)",
      "graft.materialize.MergeIntoPartitioned.runLocked(MergeIntoPartitioned.scala:170)",
      "perfbench.StreamUpsert.setup(Workloads.scala:192)")) == "warehouse")
  }

  test("graft.core helpers are skipped in favour of their caller") {
    assert(Layers.moduleOf(site(
      "graft.core.Lineage$.cut(Lineage.scala:46)",
      "graft.operators.LabelStore$.dropNodesLocked(LabelStore.scala:366)")) == "operators")
  }

  test("stack-trace style frames with an 'at' prefix are read too") {
    assert(Layers.moduleOf(site(
      "\tat graft.runlog.EventLog.lookupEnd(RunLog.scala:150)")) == "runlog")
  }

  test("a call site without library frames is unattributed") {
    assert(Layers.moduleOf(site(
      "org.apache.spark.sql.execution.SQLExecution$.withThreadLocalCaptured(SQLExecution.scala:329)",
      "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)",
      "perfbench.IncrementalAppend.op(Workloads.scala:120)")) == Layers.Unattributed)
    assert(Layers.moduleOf("") == Layers.Unattributed)
    assert(Layers.moduleOf(null) == Layers.Unattributed)
  }

  test("every module the benchmark reports is a graft package") {
    assert(Layers.Modules == Seq("warehouse", "runlog", "materialize", "streaming", "llm",
      "operators", "functions"))
  }
}
