"""DoclingDocument YAML: sink (serialize_yaml = the CLI's save_as_yaml,
docling/cli/main.py:434,494-498) + loader (jsonx.extract_docling_yaml),
pinned against the reference's two ``.md.yaml`` groundtruth exports and
closed under round-trip."""

from __future__ import annotations

import json
import pathlib

import pytest
import yaml

from docling_spark.engine.extract import detect_format, extract_payload
from docling_spark.engine.jsonx import (
    DoclingJsonError,
    extract_docling_json,
    extract_docling_yaml,
)
from docling_spark.engine.serialize import serialize_docling_json, serialize_yaml

MD_GT = pathlib.Path("/root/reference/tests/data/md/groundtruth")
YAML_PAIRS = sorted(MD_GT.glob("*.md.yaml")) if MD_GT.exists() else []


@pytest.mark.requires_reference(MD_GT)
def test_reference_yaml_corpus_is_covered():
    assert len(YAML_PAIRS) == 2


@pytest.mark.parametrize("yf", YAML_PAIRS,
                         ids=[p.name for p in YAML_PAIRS])
def test_yaml_md_parallel_export(yf):
    text, items, _ = extract_docling_yaml(yf.read_text())
    want = yf.with_name(yf.name[:-5] + ".md").read_text().strip()
    assert text.strip() == want


def test_yaml_sink_equals_json_model():
    res = extract_payload("<h1>T</h1><p>alpha beta</p>"
                          "<ul><li>x</li></ul>", "html")
    items = [dict(i) for i in res["items"]]
    y = serialize_yaml(items, name="doc")
    j = serialize_docling_json(items, name="doc")
    assert yaml.safe_load(y) == json.loads(j)


def test_yaml_sink_roundtrips_markdown():
    res = extract_payload("<h2>Sec</h2><p>body text</p>"
                          "<table><tr><th>a</th></tr><tr><td>1</td></tr>"
                          "</table>", "html")
    y = serialize_yaml([dict(i) for i in res["items"]])
    back = extract_payload(y, tool="yaml")
    assert back["status"] == "success"
    assert back["format"] == "docling_yaml"
    assert back["extracted_text"] == res["extracted_text"]


def test_detection_and_containment():
    y = "schema_name: DoclingDocument\nbody:\n  children: []\n"
    assert detect_format(y) == "docling_yaml"
    assert detect_format("x", tool="yaml") == "docling_yaml"
    with pytest.raises(DoclingJsonError):
        extract_docling_yaml("just: a\nmapping: here")
    bad = extract_payload(": not yaml [", tool="yaml")
    assert bad["status"] == "failure"


def test_json_and_yaml_loaders_agree():
    res = extract_payload("<h1>H</h1><p>p1</p>", "html")
    items = [dict(i) for i in res["items"]]
    via_json = extract_docling_json(serialize_docling_json(items))[0]
    via_yaml = extract_docling_yaml(serialize_yaml(items))[0]
    assert via_json == via_yaml
