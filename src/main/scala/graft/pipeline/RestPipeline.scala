package graft.pipeline

import graft.connectors.rest.{HttpTransport, RestEngine}
import graft.connectors.rest.RestEngine.{RestResource, RestSource}

/** Bridge: a declarative `RestSource` (the fleet config format) becomes a
  * runnable pipeline `SourceDef` — root resources read through the page
  * loop with incremental state and put their new cursor into the run's
  * state (the pipeline commits it only after every write succeeded),
  * parent-bound resources fan out on executors from their parent's
  * frame. This is the reference's `pipeline.run(stripe_source(...))` call shape
  * (sources/stripe_analytics_pipeline.py:27-36) on this engine:
  *
  *   new Pipeline(spark, "p", dest, stateDir)
  *     .run(RestPipeline.toSourceDef(Fleet.stripe(key), () => transport))
  */
object RestPipeline {

  def toSourceDef(src: RestSource, transportFactory: () => HttpTransport): SourceDef = {
    val resources = src.resources.map { res =>
      res.endpoint.parent match {
        case None =>
          ResourceDef(
            name = res.name,
            hints = res.hints,
            build = ctx => {
              val read = RestEngine.readResource(ctx.spark, src, res, transportFactory(), Some(ctx.state))
              RestEngine.advanceCursor(src, res, read, ctx.state)
              read
            },
          )
        case Some(binding) =>
          ResourceDef(
            name = res.name,
            hints = res.hints,
            parentName = Some(binding.parentName),
            build = ctx =>
              RestEngine.readChildResource(
                ctx.spark, src, res,
                ctx.parents.getOrElse(binding.parentName,
                  throw new IllegalStateException(s"parent ${binding.parentName} not built for ${res.name}")),
                transportFactory),
          )
      }
    }
    SourceDef(src.name, resources)
  }
}
