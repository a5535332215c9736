"""Progress notification (reference: UniversalImporterHelper's
started/processed/finished callbacks + `wc -l` pre-count,
universal_importer_helper.rb:94-102).

Spark-first shape: no extra counting pass (the reference shells out to
`wc -l` for a row pre-count — an extra full scan we refuse at 100 TB).
Instead, `observe_records` attaches a zero-cost Observation to the records
DataFrame; metrics materialise with whatever action the caller runs, and
`notify` fires the reference-shaped callbacks afterwards.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class ProgressNotifier:
    """Reference-shaped callback bundle."""

    on_started: Callable[[], None] | None = None
    on_processed: Callable[[int], None] | None = None
    on_finished: Callable[[], None] | None = None
    events: list = field(default_factory=list)

    def started(self) -> None:
        self.events.append(("started",))
        if self.on_started:
            self.on_started()

    def processed(self, n: int) -> None:
        self.events.append(("processed", n))
        if self.on_processed:
            self.on_processed(n)

    def finished(self) -> None:
        self.events.append(("finished",))
        if self.on_finished:
            self.on_finished()


def observe_records(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach a record/error count observation — collected as a side effect
    of the caller's own action, NO extra job."""
    obs = Observation("records")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_records"),
        F.sum((F.size(F.col("_errors")) > 0).cast("long")).alias("n_errors"),
    )
    return observed, obs


def notify(obs: Observation, notifier: ProgressNotifier) -> dict:
    """After an action on the observed DataFrame: fire processed/finished
    with the observed counts. Returns the metrics dict."""
    metrics = dict(obs.get)
    notifier.processed(int(metrics.get("n_records") or 0))
    notifier.finished()
    return metrics
