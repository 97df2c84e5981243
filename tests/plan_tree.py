"""A physical plan read as a tree, for plan-shape tests that assert on
operators and their outputs rather than on explain strings."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class PlanNode:
    name: str
    # output attribute names; a struct attribute also lists its nested
    # fields as dotted paths ("_b.thumb"), so a column riding inside an
    # aggregate buffer is still seen
    output: list[str]
    children: list[PlanNode]

    def walk(self):
        """This node and every node below it, parents first."""
        yield self
        for child in self.children:
            yield from child.walk()


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _field_paths(name: str, data_type) -> list[str]:
    paths = [name]
    if data_type.typeName() == "struct":
        for f in data_type.fields():
            paths += _field_paths(f"{name}.{f.name()}", f.dataType())
    return paths


def _node(plan) -> PlanNode:
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    output = [p for a in _seq(plan.output()) for p in _field_paths(a.name(), a.dataType())]
    return PlanNode(plan.nodeName(), output, [_node(c) for c in _seq(plan.children())])


def plan_tree(df) -> PlanNode:
    """The root of ``df``'s executed physical plan. Under AQE the root is an
    ``AdaptiveSparkPlan``; its initial plan is walked, which holds every
    exchange the planner put in before any stage ran."""
    return _node(df._jdf.queryExecution().executedPlan())
