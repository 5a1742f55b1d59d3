"""Shared probe-JVM environment guard (Xms=Xmx + AlwaysPreTouch).

CLAUDE.md invariant: probe/curve JVMs MUST run with the heap fully
committed up front — a lazily-committed 48g heap page-faults inside
timed windows (31.5% system CPU in slow runs; pagerank sf1 read 14-88 s
bimodal for one plan — see tools/isolated_probe.py's docstring for the
round-10 diagnosis). A bare ``os.environ.setdefault`` silently drops the
flags whenever the caller's environment already carries ANY
PYSPARK_SUBMIT_ARGS, reverting the probe to that noise band (round-10
advice on isolated_probe; round-11 advice caught the same pattern
re-introduced in the grouped heavy-hitter grain probe, whose findings
SCALE.md "Grouped heavy hitters: broadcast vs shuffle cells" records).
Every timing tool imports THIS helper instead. Don't shrink the heap
below 48g (span_excise sf1 spills at 24g).
"""

from __future__ import annotations

import os
import sys

_REQUIRED_SUBMIT_ARGS = (
    "--driver-memory 48g --conf spark.driver.extraJavaOptions="
    "-Xms48g\\ -XX:+AlwaysPreTouch"
)


def ensure_pretouch_args(tool: str) -> None:
    """Guarantee the pretouch flags, merging into (or loudly refusing)
    a caller-supplied PYSPARK_SUBMIT_ARGS. Call BEFORE any pyspark
    import that could spawn the JVM."""
    cur = os.environ.get("PYSPARK_SUBMIT_ARGS")
    if cur is None:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            _REQUIRED_SUBMIT_ARGS + " pyspark-shell"
        )
        return
    if "AlwaysPreTouch" in cur:
        return
    if "extraJavaOptions" in cur or "--driver-memory" in cur:
        # merging into caller-specified memory/JVM flags risks duplicate
        # --conf clobbering; refuse loudly rather than probe mis-flagged
        raise SystemExit(
            f"{tool}: PYSPARK_SUBMIT_ARGS sets driver memory/JVM "
            "options WITHOUT -XX:+AlwaysPreTouch — probe timings would "
            "land in the lazy-heap-commit noise band. Unset it or add "
            "'-Xms<heap> -XX:+AlwaysPreTouch' yourself. Got: " + cur
        )
    print(
        f"{tool}: merging required pretouch flags into existing "
        f"PYSPARK_SUBMIT_ARGS ({cur!r})",
        file=sys.stderr,
    )
    suffix = ""
    if cur.rstrip().endswith("pyspark-shell"):
        cur = cur.rstrip()[: -len("pyspark-shell")].rstrip()
        suffix = " pyspark-shell"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"{cur} {_REQUIRED_SUBMIT_ARGS}{suffix}".strip()
    )
