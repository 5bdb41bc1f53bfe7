"""Per-operator SQL metrics from Spark's status store.

Spark keeps every SQL execution's plan graph and its accumulated metric
values in ``sharedState().statusStore()`` even with ``spark.ui.enabled``
off. The values come back as the strings the UI would show, e.g.::

    total (min, med, max (stageId: taskId))
    32.5 s (7.9 s, 8.1 s, 8.3 s (stage 3.0: task 12))

``parse_metric`` turns such a string into one number in base units
(seconds, bytes or a plain count); ``StatusStore`` lists executions and
their (node, metric, value) rows.
"""

from __future__ import annotations

import re

_UNITS = {
    "": 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
    "TiB": 2.0 ** 40, "PiB": 2.0 ** 50,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """The total of a metric string in seconds, bytes or count; 0.0 for an
    unset metric. With a ``total (min, med, max ...)`` header the total is
    the first value of the second line."""
    if text is None:
        return 0.0
    lines = text.strip().split("\n")
    body = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _VALUE.match(body)
    if m is None:
        raise ValueError(f"unparseable metric value {text!r}")
    number, unit = m.groups()
    if unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in metric value {text!r}")
    return float(number.replace(",", "")) * _UNITS[unit]


def metric_total(rows, metric: str, node: str | None = None) -> float:
    """Sum of one metric over the (node, metric, value) rows, optionally
    only for nodes whose name starts with ``node``."""
    return sum(
        parse_metric(v) for n, m, v in rows
        if m == metric and (node is None or n.startswith(node))
    )


def spill_total(rows) -> float:
    return sum(parse_metric(v) for _, m, v in rows if m.startswith("spill size"))


class StatusStore:
    """Read-only view of the session's SQL status store."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def _drain(self) -> None:
        # the store is filled by a listener; wait until it has seen every
        # event posted so far, so a finished execution has all its metrics
        self._bus.waitUntilEmpty()

    def last_id(self) -> int:
        self._drain()
        execs = self._store.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())),
                   default=-1)

    def since(self, last_id: int) -> list[int]:
        """Ids of the executions started after ``last_id``."""
        self._drain()
        execs = self._store.executionsList()
        ids = (execs.apply(i).executionId() for i in range(execs.size()))
        return sorted(i for i in ids if i > last_id)

    def rows(self, execution_ids) -> list[tuple[str, str, str | None]]:
        """(node name, metric name, value string) for every metric of every
        plan node of the given executions."""
        self._drain()
        out = []
        for eid in execution_ids:
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                metrics = node.metrics()
                for j in range(metrics.size()):
                    metric = metrics.apply(j)
                    v = values.get(metric.accumulatorId())
                    out.append((node.name().strip(), metric.name(),
                                v.get() if v.isDefined() else None))
        return out
