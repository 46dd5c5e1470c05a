"""The session factory pre-forks the Python worker pool exactly once.

Round-6 optimization: a fresh local session's first Arrow stage forks one
Python worker per core (~4.6 s on local[32]), latency that otherwise lands
inside whichever query runs first. ``get_spark`` now runs a
parallelism-wide no-op Arrow job at construction (local masters only,
fresh sessions only). These tests pin the two contracts that keep it
honest: the warmup is re-runnable and side-effect free, and a
``get_spark`` call that joins an existing session never re-pays it.
"""

from hepcrawl_spark import session as session_mod
from hepcrawl_spark.session import get_spark


def test_prefork_is_idempotent_and_side_effect_free(spark):
    # runs a real parallelism-wide Arrow job; must not raise and must not
    # disturb the session (twice, to pin re-runnability)
    session_mod._prefork_python_workers(spark)
    session_mod._prefork_python_workers(spark)
    assert spark.range(5).count() == 5


def test_get_spark_skips_warmup_when_session_exists(spark, monkeypatch):
    calls = []
    monkeypatch.setattr(
        session_mod, "_prefork_python_workers", lambda s: calls.append(s)
    )
    s = get_spark(app_name="already-up")
    assert s is spark
    assert calls == [], "warmup must not re-run when joining a live session"
