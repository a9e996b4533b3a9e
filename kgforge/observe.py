"""Reading Spark ``Observation`` metrics after the observed action ran.

Both pipelines count rows DURING the action that already scans them
(``df.observe(obs, ...)``) instead of paying a second scan for a count.
"""

from __future__ import annotations


def obs_get(obs, key: str) -> int:
    """Observation value after the observed action completed.  Narrow except
    (ADVICE round 2): the benign misses are a missing key, a NULL value (a
    SUM over zero rows) and a ZERO-TASK action (empty input -> no task ever
    ran -> no metrics row materialized; Observation.get then raises a Py4J
    "assertion failed" from toPyRow rather than blocking).  Anything else
    (analysis error, interrupted job) must propagate rather than silently
    read as a 0-valued metric.

    ADVICE round 3 narrowing: require the JVM exception CLASS
    (java.lang.AssertionError) alongside the message, so an unrelated Py4J
    error whose text merely contains 'assertion failed' still propagates."""
    try:
        return int(obs.get[key] or 0)
    except KeyError:
        return 0
    except Exception as exc:
        msg = str(exc)
        if "java.lang.AssertionError" in msg and "assertion failed" in msg:
            return 0  # zero-task action: no metrics row exists
        raise
