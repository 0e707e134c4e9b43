"""Alerting rules over pipeline metrics — the engine's mirror of the
reference's Prometheus alert rules
(``monitoring/prometheus/alert_rules.yml``).

Prometheus evaluates threshold expressions over scraped counters and
fires after the condition holds ``for:`` a duration. The engine has the
same signals natively — StreamingQueryListener progress events
(``streaming/ingest.py MetricsListener``), observed-metric audits
(``pipelines/medallion.py``), expectation results
(``quality/expectations.py``) — so alerting is a driver-side evaluator
over those small metric dicts (the monitoring plane is metric-sized in
Prometheus too; no data-plane cost).

``reference_rules()`` reproduces the reference's thresholds rule by
rule; ``AlertEvaluator`` implements the ``for:`` semantics: a rule
fires only after its predicate holds for ``for_count`` CONSECUTIVE
snapshots, and a single healthy snapshot resets the streak — exactly
Prometheus' pending→firing life cycle at trigger granularity.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

#: The reference's alert thresholds (``alert_rules.yml``) and the
#: ingest-store lifecycle thresholds.
MAX_LAG_ROWS = 10_000
MAX_P95_LATENCY_S = 60.0
MAX_ANOMALY_RATE = 0.10
PSI_RETRAIN = 0.25
MAX_STORE_PARTITIONS = 512


@dataclass(frozen=True)
class AlertRule:
    """One threshold rule. ``predicate`` sees a metrics snapshot (plain
    dict) and returns True when the condition is VIOLATED. Missing keys
    should be treated as healthy by predicates (``.get`` with a safe
    default) — a scrape gap is not an incident."""

    name: str
    severity: str
    predicate: Callable[[Mapping], bool]
    for_count: int = 1
    summary: str = ""


@dataclass
class Alert:
    name: str
    severity: str
    summary: str
    snapshot: dict


def reference_rules() -> list[AlertRule]:
    """The reference's alert pack (``alert_rules.yml``), re-keyed to the
    engine's native metric names:

    - HighConsumerLag (``kafka_consumer_lag > 10000 for 5m``) →
      ``backlog_rows`` (for Kafka sources Spark reports the same lag as
      ``sources[].metrics``; file sources report pending files/bytes).
    - ProducerDown (``rate(events_produced_total[2m]) == 0 for 2m``) →
      two consecutive triggers with ``num_input_rows == 0``.
    - DataQualityFailures (``quality_checks_total{result="fail"} > 0``)
      → ``quality_failures`` from the expectation suite result.
    - HighProcessingLatency (p95 > 60s for 5m) →
      ``trigger_duration_s`` (per-trigger wall; Prometheus' histogram
      p95 needs a metric backend — at trigger granularity the duration
      IS the latency sample).
    - AnomalyRateSpike (anomalies/events > 10% for 5m) →
      ``anomaly_rate`` from the silver observed metrics.
    """
    return [
        AlertRule(
            "HighConsumerLag", "critical",
            lambda m: m.get("backlog_rows", 0) > MAX_LAG_ROWS,
            for_count=2,
            summary=f"source backlog exceeds {MAX_LAG_ROWS} rows",
        ),
        AlertRule(
            "ProducerDown", "critical",
            lambda m: m.get("num_input_rows", 1) == 0,
            for_count=2,
            summary="no events ingested for consecutive triggers",
        ),
        AlertRule(
            "DataQualityFailures", "warning",
            lambda m: m.get("quality_failures", 0) > 0,
            for_count=1,
            summary="expectation suite reported failures",
        ),
        AlertRule(
            "HighProcessingLatency", "warning",
            lambda m: m.get("trigger_duration_s", 0.0) > MAX_P95_LATENCY_S,
            for_count=2,
            summary=f"trigger wall time exceeds {MAX_P95_LATENCY_S}s",
        ),
        AlertRule(
            "AnomalyRateSpike", "warning",
            lambda m: m.get("anomaly_rate", 0.0) > MAX_ANOMALY_RATE,
            for_count=2,
            summary=f"anomaly rate exceeds {MAX_ANOMALY_RATE:.0%}",
        ),
    ]


def store_health_rules() -> list[AlertRule]:
    """Alert pack for the ingest-store/index lifecycle (no reference
    analog — the reference has no stored indexes):

    - QuantizerDriftRetrain: ``ivf_occupancy_psi ≥ 0.25`` for 2
      consecutive snapshots — the 0.25 band is the standard "retrain"
      PSI reading (``similarity.ivf_occupancy_drift``); the action is
      ``streaming.ingest.maybe_retrain_ann_index``.
    - StoreFragmentation: a token-namespaced store has accumulated more
      than ``MAX_STORE_PARTITIONS`` per-trigger partitions — the small-file
      regime; the action is ``compact_ingest_store``.
    """
    return [
        AlertRule(
            "QuantizerDriftRetrain", "warning",
            lambda m: m.get("ivf_occupancy_psi", 0.0) >= PSI_RETRAIN,
            for_count=2,
            summary=(
                f"IVF occupancy PSI at or above {PSI_RETRAIN} — retrain "
                "the quantizer and re-encode the index"
            ),
        ),
        AlertRule(
            "StoreFragmentation", "warning",
            lambda m: m.get("store_partitions", 0) > MAX_STORE_PARTITIONS,
            for_count=1,
            summary=(
                f"ingest store exceeds {MAX_STORE_PARTITIONS} trigger "
                "partitions — run compact_ingest_store"
            ),
        ),
    ]


@dataclass
class AlertEvaluator:
    """Prometheus-style pending→firing evaluation over metric snapshots.

    Call :meth:`observe` once per snapshot (streaming trigger, batch
    audit, scrape). A rule fires when violated ``for_count`` consecutive
    snapshots; while firing it re-emits on every violating snapshot
    (Prometheus keeps a firing alert asserted); one healthy snapshot
    resets it to inactive.
    """

    rules: list[AlertRule]
    _streaks: dict[str, int] = field(default_factory=dict)

    def observe(self, metrics: Mapping) -> list[Alert]:
        fired: list[Alert] = []
        for rule in self.rules:
            if rule.predicate(metrics):
                streak = self._streaks.get(rule.name, 0) + 1
                self._streaks[rule.name] = streak
                if streak >= rule.for_count:
                    fired.append(
                        Alert(rule.name, rule.severity, rule.summary, dict(metrics))
                    )
            else:
                self._streaks[rule.name] = 0
        return fired

    def pending(self) -> dict[str, int]:
        """Rule → current violation streak (Prometheus 'pending' view)."""
        return {k: v for k, v in self._streaks.items() if v > 0}


def snapshot_from_progress(progress: Mapping) -> dict:
    """Adapt a ``MetricsListener`` progress dict (or a raw
    ``StreamingQueryProgress``-shaped dict) to the rule metric names."""
    duration_ms = (progress.get("durationMs") or {})
    total_ms = duration_ms.get("triggerExecution", 0)
    return {
        "num_input_rows": progress.get("numInputRows", 0),
        "trigger_duration_s": (total_ms or 0) / 1000.0,
        "backlog_rows": progress.get("backlogRows", 0),
    }
