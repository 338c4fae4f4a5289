"""``streaming``: the stateful drain, open-loop routing and bulk routing, in
one session.

Three phases share one SparkSession, so a run pays the JVM start once:

1. ``stateful_counter`` (``perfbench.stateful``): a closed backlog drain
   through ``running_counter``, the only phase on ``streaming.stateful`` and
   the state store. It runs first, so its large micro-batches also warm the
   JVM's scheduling and file-source paths for the second phase.
2. ``route_microbatch`` (``perfbench.route``): an open loop at 500 msg/s
   through ``Router.run_stream`` and the ``poison_queue → correlation_id →
   fail_rows`` onion, where per-batch fixed cost dominates.
3. ``route_bulk`` (``perfbench.bulk``): the same onion over 150k messages
   in one ``Router.run_once``, with timed publish, route and subscribe
   legs, where the per-row data path dominates.

End-to-end: ``latency_p50_ms`` and ``latency_p90_ms`` are the routing
phase's message latencies; ``items_per_s`` is the stateful phase's messages
per second of micro-batch execution. Each phase's own numbers, under the
names the phases were specified with, are in the run record.
"""

from __future__ import annotations

from perfbench.bulk import RouteBulk
from perfbench.route import RouteMicrobatch
from perfbench.stateful import StatefulCounter

# stateful-phase layer numbers reported under their own names; the stream,
# sources and exec layers are reported from the routing phase
COUNTER_LAYERS = {
    "stream.batch_p50_ms": "state.batch_p50_ms",
    "stream.jobs_per_batch": "state.jobs_per_batch",
    "exec.task_s": "state.task_s",
}


class Streaming:
    name = "streaming"

    def __init__(self, ctx):
        self.phases = (StatefulCounter(ctx), RouteMicrobatch(ctx), RouteBulk(ctx))

    def prepare(self) -> None:
        for ph in self.phases:
            ph.prepare()

    def setup(self, spark) -> None:
        for ph in self.phases:
            ph.setup(spark)

    def measure(self, spark) -> dict:
        res = {ph.name: ph.measure(spark) for ph in self.phases}
        counter, route, bulk = (res[ph.name] for ph in self.phases)
        out = {
            "attempted": sum(r["attempted"] for r in res.values()),
            "failures": {f"{name}.{k}": v for name, r in res.items() for k, v in r["failures"].items()},
            "invalid": [x for r in res.values() for x in r["invalid"]],
            "e2e": _e2e(route["e2e"], counter["e2e"]),
            "details": {name: r["details"] for name, r in res.items()},
            "phase_metrics": {name: r["phase_metrics"] for name, r in res.items()},
        }
        if "layers" in route:
            layers = {k: v for k, v in counter["layers"].items() if k.startswith("state.")}
            layers.update({name: counter["layers"][k] for k, name in COUNTER_LAYERS.items()})
            out["layers"] = {**route["layers"], **layers, **bulk["layers"]}
            out["traced_e2e"] = _e2e(route["traced_e2e"], counter["traced_e2e"])
        return out


def _e2e(route: dict, counter: dict) -> dict:
    return {"latency_p50_ms": route["latency_p50_ms"], "latency_p90_ms": route["latency_p90_ms"],
            "items_per_s": counter["items_per_s"]}
