package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Min-label-propagation connected components (the GraphX/GraphFrames
  * CC shape without the dependency): O(component diameter) rounds,
  * each one join + one map-side-combined min agg. Shared by the
  * near-dup cluster operator and the raster polygonizer.
  *
  * `edges` must carry BOTH directions of every undirected edge;
  * `nodes` (optional) adds edge-less nodes, which become singleton
  * components. Labels seed with min(self, min(neighbour)) — the first
  * propagation round fused into initialization, no join. Returns
  * (node, comp) with comp = the component's minimum node id. */
object LabelProp {

  def components(spark: SparkSession, edges: DataFrame,
      nodes: Option[DataFrame] = None, maxRounds: Int = 50,
      shufflePartitions: Option[Int] = None): DataFrame = {
    // every round executes EAGERLY (checkpoint + count), so a scoped
    // shuffle-partition override applies cleanly and pays off — tens of
    // near-empty reducers per round are pure task overhead on the small
    // graphs the callers pass; the returned frame is materialized
    // before the conf restores
    shufflePartitions.fold(componentsImpl(spark, edges, nodes, maxRounds)) {
      p => Scoped.shufflePartitions(spark, p)(
        componentsImpl(spark, edges, nodes, maxRounds))
    }
  }

  private def componentsImpl(spark: SparkSession, edges: DataFrame,
      nodes: Option[DataFrame], maxRounds: Int): DataFrame = {
    // Dataset.localCheckpoint: materializes ONCE (stats-truncating,
    // lineage-cutting) and stays in Tungsten InternalRow format
    val edgesM = edges.toDF("a", "b").localCheckpoint()
    // the seed plan stays LAZY: round 1 reads it twice (join side +
    // union side), but both reads are cheap aggregations over the
    // checkpointed edge blocks — folding the seed into round 1's plan
    // saves one eager materialization job (and its driver planning
    // pass) per call, which on fast-converging graphs (near-dup
    // clusters: 1 round) is a measurable slice of the whole operator
    var labels = {
      val seeded = edgesM.groupBy("a").agg(min(col("b")).as("mb"))
        .select(col("a").as("node"), least(col("a"), col("mb")).as("comp"))
      nodes.map { nd =>
        val isolated = nd.select(col("node"))
          .join(edgesM.select(col("a").as("node")), Seq("node"), "left_anti")
          .withColumn("comp", col("node"))
        seeded.unionByName(isolated)
      }.getOrElse(seeded)
    }
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // the self row is tagged so ONE aggregation yields both the new
      // label and the old one; the materializing checkpoint is the
      // round's one real job — the convergence count after it is a
      // map-side-combined scan of the freshly cached blocks
      val step = edgesM.join(labels, edgesM("a") === labels("node"))
        .select(col("b").as("node"), col("comp"), lit(false).as("self"))
        .union(labels.withColumn("self", lit(true)))
        .groupBy("node").agg(min(col("comp")).as("comp"),
          min(when(col("self"), col("comp"))).as("old"))
        .localCheckpoint()
      val changed = step.filter(col("comp") =!= col("old")).count()
      labels = step.select("node", "comp")
      // Dataset.localCheckpoint keeps the ORIGIN plan's statistics, and
      // each round's join multiplies them — left unchecked the
      // size-estimate BigInts grow a factor-of-2 EXPONENT per round and
      // hang the driver around round ~25 (measured in round 1; dup
      // clusters converge in 2-3 rounds, so the expensive RDD-rebuild
      // stat reset runs only on pathologically deep graphs)
      if (round % 8 == 7)
        labels = spark.createDataFrame(
          { val r = labels.rdd; r.localCheckpoint(); r.count(); r },
          labels.schema)
      converged = changed == 0L
      round += 1
    }
    // a chain with component diameter > the round cap would emit WRONG
    // component ids — fail loudly instead (raise the cap or switch to
    // pointer-jumping if hit)
    require(converged,
      s"label propagation did not converge within $round rounds")
    labels
  }
}
