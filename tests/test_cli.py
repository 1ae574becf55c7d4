"""The CLI surface: list / run / oracle over the registry."""

from __future__ import annotations

import json

from options_data_pipeline_spark.__main__ import main


def test_cli_list(capsys):
    assert main(["list"]) == 0
    names = capsys.readouterr().out.split()
    assert "daily_sessions" in names and len(names) > 90


def test_cli_oracle(capsys):
    assert main(["oracle", "gap_summary"]) == 0
    assert "lag(ts)" in capsys.readouterr().out


def test_cli_oracle_missing(capsys):
    assert main(["oracle", "nope"]) == 1


def test_cli_run_json_lines(spark, capsys):
    # get_spark() inside the CLI reuses the active test session
    assert main(
        ["run", "watermark_probe", "--sf-dir", "/root/testdata/sf0.001"]
    ) == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines and all("instrument" in r for r in lines)


def test_cli_sql_adhoc(spark, capsys):
    import json

    from options_data_pipeline_spark.__main__ import main

    rc = main(
        [
            "sql",
            "SELECT r_name, count(*) AS n FROM region GROUP BY 1 ORDER BY 1",
            "--sf-dir",
            "/root/testdata/sf0.001",
        ]
    )
    assert rc == 0
    lines = [json.loads(ln) for ln in capsys.readouterr().out.splitlines()]
    assert len(lines) == 5 and all(r["n"] == 1 for r in lines)


def test_cli_explain(spark, capsys):
    from options_data_pipeline_spark.__main__ import main

    rc = main(
        ["explain", "pricing_summary", "--sf-dir", "/root/testdata/sf0.001"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan parquet" in out
