"""``iv_smile`` against its DuckDB oracle on the benchmark's analytics
inputs.  Seed 206 holds an (expiry, strike) cell whose mean ends in 5 at
the 7th decimal: a mean divided in DECIMAL by Spark and in DOUBLE by
DuckDB rounds to 24.649438 on one side and 24.649437 on the other."""

from __future__ import annotations

from options_data_pipeline_spark.plans import options
from perfbench import checks, inputs
from perfbench.workloads import Analytics


def test_iv_smile_matches_its_oracle_on_seed_206(spark, tmp_path):
    seed, size = 206, Analytics.sizes["full"]
    spec = inputs.TickSpec(size["instruments"], size["hours"], size["tph"])
    events = str(tmp_path / "events.parquet")
    inputs.write_ticks(inputs.history_ticks(seed, spec, inputs.start_time(seed)), events)
    got = options.q_iv_smile(spark, str(tmp_path)).toPandas()
    con = checks.connect(events)
    want = checks.oracle(con, "iv_smile")
    con.close()
    assert len(got) > 0
    assert checks.compare("iv_smile", got, want) is None
