"""Unit tests for the parse/validate/route library — the reference's test
matrix (/root/reference/tests/consumer/test_batch_parsers.py:36-93 and
FIXTURES.md §2/§3) re-expressed against our parser + router."""

from __future__ import annotations

import json
from datetime import datetime

import pytest
from pyspark.sql import types as T

from spark_streaming_practicum_spark.consumer_cli import EVENT_SCHEMA
from spark_streaming_practicum_spark.streaming.parser import (
    HAS_EXTRA_FIELDS,
    IS_CORRUPTED,
    RAW_RECORD,
    JsonArrayBatchParser,
)
from spark_streaming_practicum_spark.streaming.router import (
    REASON,
    DeadLetterReason,
    Router,
)

# Minimal two-required-field schema, as the reference's unit tests use
# (test_batch_parsers.py:19-27).
SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), nullable=False),
        T.StructField("name", T.StringType(), nullable=False),
    ]
)


@pytest.fixture()
def parser():
    return JsonArrayBatchParser(SCHEMA)


@pytest.fixture()
def router():
    return Router(SCHEMA)


def _batch_df(spark, *values: str):
    return spark.createDataFrame([(v,) for v in values], ["value"])


def test_valid_batch_parsed(spark, parser):
    df = _batch_df(spark, '[{"id": "1", "name": "a"}, {"id": "2", "name": "b"}]')
    rows = parser.parse(df).collect()
    assert len(rows) == 2
    assert {(r.id, r.name) for r in rows} == {("1", "a"), ("2", "b")}
    assert all(not r[IS_CORRUPTED] for r in rows)


def test_corrupted_batch_flagged_and_raw_preserved(spark, parser):
    raw = '[{"id": "1", "na'  # truncated mid-record
    rows = parser.parse(_batch_df(spark, raw)).collect()
    assert len(rows) == 1
    assert rows[0][IS_CORRUPTED] is True
    # corrupted rows keep the whole batch text as their record (A9)
    assert rows[0][RAW_RECORD] == raw
    assert rows[0].id is None and rows[0].name is None


def test_empty_array_is_corrupted(spark, parser):
    # explode_outer of an empty array -> one null row -> corrupted
    # (reference test_batch_parsers.py:84-93)
    rows = parser.parse(_batch_df(spark, "[]")).collect()
    assert len(rows) == 1
    assert rows[0][IS_CORRUPTED] is True


def test_extra_fields_flagged_by_key_count(spark, parser):
    df = _batch_df(spark, '[{"id": "1", "name": "a", "extra": "x"}]')
    rows = parser.parse(df).collect()
    assert rows[0][HAS_EXTRA_FIELDS] is True
    # fields themselves still parse
    assert rows[0].id == "1" and rows[0].name == "a"


def test_missing_plus_extra_passes_count_heuristic(spark, parser):
    # The deliberate imperfection (SURVEY.md §7): one missing + one extra
    # key keeps the count at the declared width -> NOT flagged.
    df = _batch_df(spark, '[{"id": "1", "bogus": "x"}]')
    rows = parser.parse(df).collect()
    assert rows[0][HAS_EXTRA_FIELDS] is False
    assert rows[0].name is None  # missing required field -> null


def test_missing_required_field_routed_invalid_schema(spark, parser, router):
    df = _batch_df(spark, '[{"id": "1"}]')
    routed = router.split(parser.parse(df))
    assert routed.valid.count() == 0
    dead = routed.dead_letters.collect()
    assert len(dead) == 1
    assert dead[0][REASON] == DeadLetterReason.INVALID_SCHEMA


def test_reason_precedence_corrupted_wins(spark, parser, router):
    # corrupted batch also fails required-field validation; reason must be
    # corrupted_batch (precedence per stream_processor.py:76-95)
    routed = router.split(parser.parse(_batch_df(spark, "not json [")))
    dead = routed.dead_letters.collect()
    assert dead[0][REASON] == DeadLetterReason.CORRUPTED_BATCH


def test_valid_rows_drop_service_columns(spark, parser, router):
    df = _batch_df(spark, '[{"id": "1", "name": "a"}]')
    routed = router.split(parser.parse(df))
    assert routed.valid.columns == ["id", "name"]


def test_dead_letter_column_order(spark, parser, router):
    df = _batch_df(spark, '[{"id": "1", "extra": "x", "name": "a", "more": "y"}]')
    routed = router.split(parser.parse(df))
    # reason first, raw record second, then business columns
    assert routed.dead_letters.columns == [REASON, RAW_RECORD, "id", "name"]
    assert routed.dead_letters.collect()[0][REASON] == DeadLetterReason.EXTRA_FIELDS


def test_mixed_batch_splits_row_wise(spark, parser, router):
    df = _batch_df(
        spark,
        '[{"id": "1", "name": "a"}, {"id": "2"}, {"id": "3", "name": "c", "e": "x"}]',
    )
    routed = router.split(parser.parse(df))
    assert routed.valid.count() == 1
    reasons = sorted(r[REASON] for r in routed.dead_letters.collect())
    assert reasons == [DeadLetterReason.EXTRA_FIELDS, DeadLetterReason.INVALID_SCHEMA]


# ---------------------------------------------------------------------------
# Edge-case table over the production event schema (6 declared fields).
# Each case lists every output row of parse() + classify(): the three
# service columns, the business columns and the routed reason.

_TS = "2024-01-01T00:00:00"
_OK = (
    '{"user_id":"u1","event_id":"e1","event_timestamp":"%s",'
    '"event_type":"click","product_id":"p1","properties":{"a":"b"}}' % _TS
)
_DUP = (
    '{"user_id":"u1","event_id":"e1","event_timestamp":"%s","event_type":"click",'
    '"product_id":"p1","properties":{},"user_id":"u2"}' % _TS
)
_BAD_TS = '{"user_id":"u1","event_id":"e1","event_timestamp":"not a time","event_type":"click"}'
_NO_FIELDS = (None,) * 6


def _row(record, corrupted, extra, reason, fields=_NO_FIELDS):
    return (record, corrupted, extra, *fields, reason)


_CORRUPT = DeadLetterReason.CORRUPTED_BATCH
_INVALID = DeadLetterReason.INVALID_SCHEMA

EDGE_CASES = {
    # an empty, blank or truncated batch is one corrupt row carrying the
    # batch text; the key-count flag is null on corrupt rows
    "empty_array": ("[]", [_row("[]", True, None, _CORRUPT)]),
    "empty_string": ("", [_row("", True, None, _CORRUPT)]),
    "truncated": ('[{"user_id": "u1", "ev', [_row('[{"user_id": "u1", "ev', True, None, _CORRUPT)]),
    "object_not_array": ("{}", [_row("{}", True, None, _CORRUPT)]),
    # a null element is a corrupt row carrying the whole batch text; its
    # sibling still parses
    "null_element": (
        "[null, %s]" % _OK,
        [
            _row("[null, %s]" % _OK, True, None, _CORRUPT),
            _row(_OK, False, False, None,
                 ("u1", "e1", datetime(2024, 1, 1), "click", "p1", {"a": "b"})),
        ],
    ),
    # non-object elements are records whose key count is unknown (null)
    # and whose typed parse is all-null
    "non_objects": (
        '[1,"x",[1,2]]',
        [
            _row("1", False, None, _INVALID),
            _row("x", False, None, _INVALID),
            _row("[1,2]", False, None, _INVALID),
        ],
    ),
    "empty_object": ("[{}]", [_row("{}", False, False, _INVALID)]),
    # 6 distinct keys + 1 duplicate: 7 keys > 6 declared; the typed parse
    # keeps the last duplicate
    "duplicate_key": (
        "[%s]" % _DUP,
        [_row(_DUP, False, True, DeadLetterReason.EXTRA_FIELDS,
              ("u2", "e1", datetime(2024, 1, 1), "click", "p1", {}))],
    ),
    # an unparseable timestamp nulls a required field
    "bad_timestamp": (
        "[%s]" % _BAD_TS,
        [_row(_BAD_TS, False, False, _INVALID, ("u1", "e1", None, "click", None, None))],
    ),
}


@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_parser_edge_case_table(spark, case):
    batch, expected = EDGE_CASES[case]
    parsed = JsonArrayBatchParser(EVENT_SCHEMA).parse(_batch_df(spark, batch))
    classified = Router(EVENT_SCHEMA).classify(parsed)
    assert classified.columns == [
        RAW_RECORD, IS_CORRUPTED, HAS_EXTRA_FIELDS, *EVENT_SCHEMA.fieldNames(), REASON
    ]
    assert [tuple(r) for r in classified.collect()] == expected


def _plan_nodes(plan):
    """Every node of a JVM logical plan, depth first."""
    nodes, todo = [], [plan]
    while todo:
        node = todo.pop()
        nodes.append(node)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return nodes


def test_parse_plan_parses_each_batch_once(spark):
    """The optimized parse plan holds exactly two JSON parses (the batch
    as array<string>, each record as the typed struct), no map<string,
    string> re-parse of the record, and a Generate that does not carry the
    batch text to every record."""
    parsed = JsonArrayBatchParser(EVENT_SCHEMA).parse(_batch_df(spark, "[%s]" % _OK))
    plan = parsed._jdf.queryExecution().optimizedPlan()
    text = plan.toString()
    assert text.count("from_json(") == 2
    assert "from_json(MapType" not in text
    generates = [n for n in _plan_nodes(plan) if n.nodeName() == "Generate"]
    assert len(generates) == 1
    output = generates[0].output()
    names = [output.apply(i).name() for i in range(output.size())]
    assert names == [RAW_RECORD, IS_CORRUPTED]


def test_key_count_of_lenient_string_elements(spark):
    """A record that is the text of a JSON *string* element is counted by
    ``json_object_keys``, which reads lenient JSON differently from a
    ``map<string,string>`` parse: NaN makes the count null, and an
    unescaped control character inside a string is accepted. Spark
    re-serializes every object element as strict JSON, so object
    elements never reach either case."""
    nan = json.dumps([json.dumps({"a": 1, "b": 2})[:-1] + ',"c":NaN}'])
    ctrl = json.dumps(['{"a":"\n"}'])
    rows = JsonArrayBatchParser(SCHEMA).parse(_batch_df(spark, nan, ctrl)).collect()
    assert [(r[RAW_RECORD], r[HAS_EXTRA_FIELDS]) for r in rows] == [
        ('{"a": 1, "b": 2,"c":NaN}', None),
        ('{"a":"\n"}', False),
    ]


def test_route_keeps_raw_record_only_on_dead_letters(spark, parser, router):
    """``route`` is the frame both sinks filter: the dead-letter layout,
    with the raw record dropped from valid rows (the valid sink never
    writes it)."""
    df = _batch_df(spark, '[{"id": "1", "name": "a"}, {"id": "2"}]')
    routed = router.route(parser.parse(df))
    assert routed.columns == [REASON, RAW_RECORD, "id", "name"]
    assert [tuple(r) for r in routed.collect()] == [
        (None, None, "1", "a"),
        (DeadLetterReason.INVALID_SCHEMA, '{"id":"2"}', "2", None),
    ]
