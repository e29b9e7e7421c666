package graft.engine

import org.apache.spark.sql.DataFrame

/** Recipe engine — the reference's YAML recipe/steps pipeline
  * (/root/reference/code/recipes.py:976-1139, 1270-1307) re-expressed as
  * function composition.
  *
  * A step is `DataFrame => DataFrame`; a recipe folds its input through
  * the steps. Catalyst therefore sees ONE fused logical plan per recipe
  * and optimizes across step boundaries (column pruning through a 30-step
  * pipeline reaches the scan) — the chunk loop, writer queue, and
  * supervisor processes of the reference (recipes.py:1371-1594) all
  * disappear into Spark's scheduler. [[graft.conf.RecipeConf]] compiles
  * the YAML steps and owns the before/after orchestration.
  */
object Recipe {
  type Step = DataFrame => DataFrame
}
