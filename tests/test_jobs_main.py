"""spark-submit job arguments: format lists are split once and checked
before any Spark work."""

from __future__ import annotations

import pytest

from docling_spark.jobs.main import parse_args

BASE = ["--synthetic-convs", "4", "--output-table", "out"]


def test_format_lists_split_once():
    args = parse_args(BASE + ["--from", "html, csv,", "--to", "itxt,json"])
    assert args.from_formats == ("html", "csv")
    assert args.to == ("itxt", "json")
    args = parse_args(BASE)
    assert args.from_formats is None and args.to is None


@pytest.mark.parametrize("flag,value,msg", [
    ("--to", "itxt,bogus", "unknown output format(s): bogus"),
    ("--to", "md", "unknown output format(s): md"),
    ("--from", "html,htmll", "unknown input format(s): htmll"),
])
def test_format_typos_exit_from_parse_args(flag, value, msg, capsys):
    with pytest.raises(SystemExit) as exc:
        parse_args(BASE + [flag, value])
    assert exc.value.code == 2
    assert msg in capsys.readouterr().err
