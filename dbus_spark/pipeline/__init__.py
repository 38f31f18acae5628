"""Config→DAG layer: the analog of the reference's plugin engine.

The reference wires `plugins[]` config sections into a live object
graph of runners + matchers + channels (reference:
engine/engine.go:215-265, engine/router.go:67-197). Here the "router"
is Catalyst plan branching: every plugin's emission is a DataFrame
carrying an ``ident`` column, and each consumer's input is the union
of upstream emissions filtered by its matcher predicate — a fully
declarative plan. Emissions whose plan-fixed ident a matcher rejects
are left out of its union when the plan is built (streaming plans get
no help from Catalyst there); filter pushdown does the rest of what
the reference's inverted-bitmap matcher does by hand.
"""

from dbus_spark.pipeline.matcher import exact_match, wildcard_match
from dbus_spark.pipeline.dag import Pipeline, register_plugin, PLUGIN_REGISTRY

__all__ = [
    "Pipeline",
    "register_plugin",
    "PLUGIN_REGISTRY",
    "exact_match",
    "wildcard_match",
]
