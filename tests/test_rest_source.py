"""REST data source: pagination protocol, Essie filter pushdown
translation, page cap (reference R2/R3/R4 semantics), typed ``study``
pages."""

from __future__ import annotations

import json
import re

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    IsNull,
    LessThan,
    StringContains,
)

from ctgov_ai_etl_spark.fixtures import make_raw_study, mock_ctgov_transport
from ctgov_ai_etl_spark.schemas import RAW_STUDY
from ctgov_ai_etl_spark.sources import rest


def _read(spark, **opts):
    rest.register(spark)
    reader = spark.read.format("ctgov_rest")
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def _json_parsed(spark, studies):
    """``from_json(json.dumps(s), RAW_STUDY)`` of each study dict, in
    order: the rows the source produced when it served JSON text."""
    raw = spark.createDataFrame([(json.dumps(s),) for s in studies], "raw_json string")
    return raw.select(F.from_json("raw_json", RAW_STUDY).alias("study")).collect()


def _served_studies(n_studies=57, page_size=10):
    """Every study the fixture transport serves, in page order."""
    transport, token, studies = mock_ctgov_transport(n_studies, page_size), None, []
    while True:
        page = transport({"pageSize": page_size}, token)
        studies.extend(page["studies"])
        token = page.get("nextPageToken")
        if not token:
            return studies


FIXTURE_OPTS = dict(
    transport_factory="ctgov_ai_etl_spark.fixtures:mock_ctgov_transport",
    transport_args="[57, 10]",
    page_size="10",
)


def test_token_pagination_reads_all_pages(spark):
    df = _read(spark, **FIXTURE_OPTS)
    assert df.count() == 57  # 6 pages: 10×5 + 7


def test_rows_are_parseable_study_json(spark):
    """The first row is study 0, typed: exactly what parsing its JSON
    document with RAW_STUDY gives."""
    df = _read(spark, **FIXTURE_OPTS)
    assert df.columns == ["study"]
    first = df.limit(1).collect()[0]
    assert first.study.protocolSection.identificationModule.nctId == "NCT00000000"
    assert first == _json_parsed(spark, [make_raw_study(0)])[0]


def test_page_cap_limits_pages(spark):
    df = _read(spark, **FIXTURE_OPTS, max_pages="2")
    assert df.count() == 20  # cap at 2 pages of 10 (reference cap semantics)


def test_filters_to_essie_translation():
    conjuncts, unsupported = rest.filters_to_essie(
        [
            EqualTo(("StudyType",), "INTERVENTIONAL"),
            GreaterThanOrEqual(("StartDate",), "2013-05-01"),
            LessThan(("MinimumAge",), 64),  # unsupported → stays with Spark
            IsNull(("MaximumAge",)),
            StringContains(("Study",), "pregnancy"),
        ]
    )
    assert conjuncts == [
        "AREA[StudyType]INTERVENTIONAL",
        "AREA[StartDate]RANGE[2013-05-01,MAX]",
        "AREA[MaximumAge]MISSING",
        "SEARCH[Study]pregnancy",
    ]
    assert len(unsupported) == 1 and isinstance(unsupported[0], LessThan)


def test_indexed_paging_parallel_partitions(spark):
    opts = dict(FIXTURE_OPTS, transport_args="[57, 10, true]")
    df = _read(spark, **opts, paging="indexed", max_pages="6")
    # indexed mode plans one partition per page
    assert df.rdd.getNumPartitions() == 6
    assert df.count() == 57


def test_page_ranges_are_contiguous_and_cover_every_page():
    assert [(r.start, r.stop) for r in rest.page_ranges(6, 4)] == [
        (0, 2), (2, 4), (4, 5), (5, 6)
    ]
    assert [(r.start, r.stop) for r in rest.page_ranges(6, 1)] == [(0, 6)]
    assert [(r.start, r.stop) for r in rest.page_ranges(3, 8)] == [(0, 1), (1, 2), (2, 3)]


@pytest.mark.parametrize("parallelism, parts", [(1, 1), (4, 4), (16, 6)])
def test_indexed_paging_page_ranges(spark, tmp_path, parallelism, parts):
    """With ``parallelism`` the six pages are read as min(6, parallelism)
    page ranges: each page is served once, and rows arrive in page
    order."""
    log = str(tmp_path / "pages.log")
    opts = dict(FIXTURE_OPTS, transport_args=json.dumps([57, 10, True, log]))
    df = _read(spark, **opts, paging="indexed", max_pages="6", parallelism=str(parallelism))
    assert df.rdd.getNumPartitions() == parts
    assert df.collect() == _json_parsed(spark, _served_studies())
    with open(log) as fh:
        assert sorted(map(int, fh.read().split())) == [7] + [10] * 5


def test_config_conjuncts_reach_params(spark):
    # the transport asserts on filter.advanced via a factory that
    # records params into the rows it serves
    df = _read(
        spark,
        transport_factory="tests.test_rest_source:echo_params_transport",
        transport_args="[]",
        filter_advanced="AREA[StudyType]INTERVENTIONAL AND SEARCH[Study]pregnant",
    )
    echo = df.collect()[0].study.protocolSection.descriptionModule.briefSummary
    assert (
        json.loads(echo)["filter.advanced"]
        == "AREA[StudyType]INTERVENTIONAL AND SEARCH[Study]pregnant"
    )


def echo_params_transport():
    """Serves one study whose brief summary is the request's params as
    JSON."""

    def transport(params, token):
        summary = {"descriptionModule": {"briefSummary": json.dumps(params)}}
        return {"studies": [{"protocolSection": summary}]}

    return transport


def test_in_filter_translates_to_essie_or_group():
    from pyspark.sql.datasource import In

    conjuncts, unsupported = rest.filters_to_essie(
        [In(("OverallStatus",), ("RECRUITING", "COMPLETED"))]
    )
    assert conjuncts == ["(AREA[OverallStatus]RECRUITING OR AREA[OverallStatus]COMPLETED)"]
    assert unsupported == []


def test_in_filter_beyond_cap_stays_client_side():
    """A huge isin (10k ids) must NOT expand into an unbounded Essie
    OR-group URL: it stays in ``unsupported`` so Spark keeps applying
    it as a residual (VERDICT r4 item 4), and result parity holds by
    the DSv2 contract — pushFilters returning the filter means the
    engine re-evaluates it client-side."""
    from pyspark.sql.datasource import In

    big = In(("NCTId",), tuple(f"NCT{i:08d}" for i in range(10_000)))
    conjuncts, unsupported = rest.filters_to_essie([big])
    assert conjuncts == []
    assert unsupported == [big]

    # boundary: exactly MAX_IN_PUSHDOWN values still push down
    at_cap = In(("NCTId",), tuple(f"NCT{i:08d}" for i in range(rest.MAX_IN_PUSHDOWN)))
    conjuncts, unsupported = rest.filters_to_essie([at_cap])
    assert len(conjuncts) == 1 and unsupported == []

    # and the reader relays the residual to Spark via pushFilters
    opts = {
        "transport_factory": "tests.test_rest_source:essie_or_filtering_transport",
        "transport_args": "[]",
        "page_size": "10",
    }
    reader = rest.RestStudiesReader(dict(opts))
    leftover = list(reader.pushFilters([big]))
    assert leftover == [big]
    assert "filter.advanced" not in reader._params()


def essie_or_filtering_transport(n_studies: int = 57, page_size: int = 10):
    """A transport that EVALUATES AREA[OverallStatus] constraints
    server-side (single values and OR groups), like the live API: the
    row-count shrink in the pushdown test is real server-side
    narrowing, not client-side filtering."""
    import re

    from ctgov_ai_etl_spark.fixtures import make_raw_study

    def transport(params, token):
        adv = params.get("filter.advanced", "")
        statuses = set(re.findall(r"AREA\[OverallStatus\](\w+)", adv))
        corpus = [make_raw_study(i) for i in range(n_studies)]
        if statuses:
            corpus = [
                s
                for s in corpus
                if s.get("protocolSection", {})
                .get("statusModule", {})
                .get("overallStatus")
                in statuses
            ]
        size = int(params.get("pageSize", page_size))
        start = int(token) if token else 0
        out = {"studies": corpus[start : start + size]}
        if start + size < len(corpus):
            out["nextPageToken"] = str(start + size)
        return out

    return transport


def test_in_filter_pushdown_shrinks_served_rows():
    """R9's tuning-set narrowing server-side: an In filter lands in
    filter.advanced as an Essie OR group and the source fetches only
    the matching subset over the (mock) wire (VERDICT r3 item 4)."""
    from pyspark.sql.datasource import In

    opts = {
        "transport_factory": "tests.test_rest_source:essie_or_filtering_transport",
        "transport_args": "[]",
        "page_size": "10",
    }
    full = rest.RestStudiesReader(dict(opts))
    n_full = sum(b.num_rows for p in full.partitions() for b in full.read(p))

    narrowed = rest.RestStudiesReader(dict(opts))
    leftover = list(
        narrowed.pushFilters([In(("OverallStatus",), ("RECRUITING", "COMPLETED"))])
    )
    assert leftover == []  # fully pushed: nothing left for Spark
    assert (
        narrowed._params()["filter.advanced"]
        == "(AREA[OverallStatus]RECRUITING OR AREA[OverallStatus]COMPLETED)"
    )
    n_narrow = sum(b.num_rows for p in narrowed.partitions() for b in narrowed.read(p))
    assert 0 < n_narrow < n_full
    # the fixture assigns RECRUITING/COMPLETED to 2 of every 4 studies
    # that carry a statusModule at all
    rows = [
        r["study"]
        for p in rest.RestStudiesReader(dict(opts)).partitions()
        for b in rest.RestStudiesReader(dict(opts)).read(p)
        for r in b.to_pylist()
    ]
    expected = sum(
        1
        for s in rows
        if ((s["protocolSection"] or {}).get("statusModule") or {}).get("overallStatus")
        in ("RECRUITING", "COMPLETED")
    )
    assert n_narrow == expected


def flaky_transport_factory(fail_times: int = 2, n_studies: int = 57, page_size: int = 10):
    """Fails the first ``fail_times`` fetches with a transient error,
    then serves the fixture corpus — the retry-policy fixture."""
    from ctgov_ai_etl_spark.fixtures import mock_ctgov_transport
    from ctgov_ai_etl_spark.sources.rest import TransientPageError

    inner = mock_ctgov_transport(n_studies, page_size)
    state = {"fails": 0}

    def transport(params, token):
        if state["fails"] < fail_times:
            state["fails"] += 1
            raise TransientPageError("simulated 503")
        return inner(params, token)

    return transport


def test_retry_backoff_completes_flaky_read(spark):
    """max_retries: a read that hits two transient failures completes
    on the third attempt (VERDICT r3 item 5); without opting in, the
    same flaky transport aborts the read — the reference's
    abort-on-error semantics stay the default."""
    df = _read(
        spark,
        transport_factory="tests.test_rest_source:flaky_transport_factory",
        transport_args="[2]",
        page_size="10",
        max_retries="3",
        backoff_s="0.01",
    )
    assert df.count() == 57

    undefended = _read(
        spark,
        transport_factory="tests.test_rest_source:flaky_transport_factory",
        transport_args="[2]",
        page_size="10",
    )
    with pytest.raises(Exception):
        undefended.count()


def test_with_retries_gives_up_on_persistent_and_nontransient_errors():
    from ctgov_ai_etl_spark.sources.rest import TransientPageError, with_retries

    def always_503(params, token):
        raise TransientPageError("503")

    calls = {"n": 0}

    def bad_request(params, token):
        calls["n"] += 1
        raise ValueError("400 bad essie expression")

    with pytest.raises(TransientPageError):
        with_retries(always_503, max_retries=2, backoff_s=0.001)({}, None)
    with pytest.raises(ValueError):
        with_retries(bad_request, max_retries=5, backoff_s=0.001)({}, None)
    assert calls["n"] == 1  # non-transient: no retry attempts burned


# ------------------------------------------------- streaming reader

def test_stream_reader_pages_become_micro_batches(spark, tmp_path):
    """The token walk incrementalized: 57 studies / 10-per-page / 2
    pages-per-batch => 3 micro-batches whose union is the corpus."""
    from ctgov_ai_etl_spark.sources.rest import register

    register(spark)
    raw = (
        spark.readStream.format("ctgov_rest")
        .option(
            "transport_factory",
            "ctgov_ai_etl_spark.fixtures:mock_ctgov_transport",
        )
        .option("transport_args", "[57, 10]")
        .option("page_size", 10)
        .option("pages_per_batch", 2)
        .load()
    )
    batches: list[int] = []

    def collect_batch(df, epoch_id):
        n = df.count()
        if n:
            batches.append(n)

    q = (
        raw.writeStream.foreachBatch(collect_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(batches) == 57
    assert len(batches) == 3  # 20 + 20 + 17
    assert batches[-1] == 17


def test_stream_reader_offset_replay_is_deterministic():
    """readBetweenOffsets (the exactly-once replay path) returns the
    identical rows a live read produced for the same offset range."""
    from ctgov_ai_etl_spark.sources.rest import RestStudiesStreamReader

    opts = {
        "transport_factory": "ctgov_ai_etl_spark.fixtures:mock_ctgov_transport",
        "transport_args": "[57, 10]",
        "page_size": "10",
        "pages_per_batch": "2",
    }
    live = RestStudiesStreamReader(opts)
    start = live.initialOffset()
    rows1, mid = live.read(start)
    rows2, end = live.read(mid)
    assert end["done"] is False  # 4 pages read, 6 exist
    replayer = RestStudiesStreamReader(opts)
    assert list(replayer.readBetweenOffsets(start, mid)) == list(rows1)
    assert list(replayer.readBetweenOffsets(mid, end)) == list(rows2)
    # exhaustion: offsets stop advancing, reads go empty
    rows3, o = live.read(end)
    rows4, o2 = live.read(o)
    assert o["done"] and o2 == o and list(rows4) == []


def test_fields_projection_prunes_served_payload(spark):
    """The ``fields`` option must reach the transport as the CTGov v2
    projection param: the fixture transport serves only the requested
    dotted paths, so every returned study shrinks to the nctId leaf —
    proof the request carried the projection (SURVEY.md §4 column
    pruning; VERDICT r5 item 8)."""
    df = _read(
        spark,
        **FIXTURE_OPTS,
        fields="protocolSection.identificationModule.nctId",
    )
    rows = df.collect()
    assert len(rows) == 57
    for r in rows:
        assert set(_leaves(r.study.asDict(recursive=True))) <= {
            "protocolSection.identificationModule.nctId"
        }
    # full fetch carries the other modules; pruned payload is smaller
    full = _read(spark, **FIXTURE_OPTS)
    assert sum(len(_leaves(r.study.asDict(recursive=True))) for r in rows) < sum(
        len(_leaves(r.study.asDict(recursive=True))) for r in full.collect()
    )


def _leaves(value, path=""):
    """Dotted paths of the non-null leaves of a study dict (list
    elements share their list's path)."""
    if isinstance(value, dict):
        return [p for k, v in value.items() for p in _leaves(v, f"{path}.{k}" if path else k)]
    if isinstance(value, list):
        return [p for v in value for p in _leaves(v, path)]
    return [] if value is None else [path]


def test_fields_projection_preserves_flatten_parity(spark):
    """Fetching only flatten_fields() must leave the flattened frame
    byte-identical to flattening full documents — the projection is
    lossless for the pipeline that requests it."""
    from ctgov_ai_etl_spark.operators.flatten import flatten_fields, flatten_studies

    def flat(df):
        return sorted(map(tuple, flatten_studies(df, extended=True).collect()))

    full = _read(spark, **FIXTURE_OPTS)
    pruned = _read(spark, **FIXTURE_OPTS, fields=flatten_fields(extended=True))
    assert flat(pruned) == flat(full)


def _stream_rows(spark, opts, ckpt):
    """Every row a fresh stream over ``opts`` delivers, batch by batch."""
    rest.register(spark)
    reader = spark.readStream.format("ctgov_rest")
    for k, v in opts.items():
        reader = reader.option(k, v)
    rows: list = []
    q = (
        reader.load()
        .writeStream.foreachBatch(lambda df, _: rows.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return rows


@pytest.mark.parametrize("cap", [None, 4], ids=["uncapped", "max_pages_4"])
def test_batch_and_stream_walk_the_same_pages_once(spark, tmp_path, cap):
    """Token mode, indexed mode (4 page ranges) and the stream reader
    fetch each page exactly once, with and without a page cap below the
    corpus's 6 pages, and each returns, in page order, what
    ``from_json(json.dumps(s), RAW_STUDY)`` makes of the studies the
    transport serves: absent modules and leaves are NULL, and
    ``locations`` lists are kept, or NULL where a study has none."""
    pages = cap or 6
    expected = _json_parsed(spark, _served_studies()[: pages * 10])
    assert any(r.study.locations is None for r in expected)
    assert any(r.study.protocolSection.identificationModule is None for r in expected)
    assert any(r.study.protocolSection.identificationModule.officialTitle is None
               for r in expected if r.study.protocolSection.identificationModule)
    for mode in ("token", "indexed", "stream"):
        log = str(tmp_path / f"{mode}.log")
        opts = dict(FIXTURE_OPTS, transport_args=json.dumps([57, 10, mode == "indexed", log]))
        if mode == "indexed":
            opts.update(paging="indexed", max_pages=str(pages), parallelism="4")
        elif cap:
            opts["max_pages"] = str(cap)
        if mode == "stream":
            opts["pages_per_batch"] = "2"
            rows = _stream_rows(spark, opts, str(tmp_path / "ckpt"))
        else:
            rows = _read(spark, **opts).collect()
        assert rows == expected, mode
        with open(log) as fh:
            served = sorted(map(int, fh.read().split()))
        assert served == ([10] * cap if cap else [7] + [10] * 5), mode


# ------------------------------------------------- typed study pages

def wrong_leaf_transport(bad_page: int = 2, indexed: bool = False):
    """The 57-study fixture transport in pages of 10, except that page
    ``bad_page`` serves its first study's ``nctId`` as a number."""
    inner = mock_ctgov_transport(57, 10, indexed)

    def transport(params, token):
        page = inner(params, token)
        if int(token or 0) == bad_page * (1 if indexed else 10):
            page["studies"][0]["protocolSection"]["identificationModule"]["nctId"] = 20
        return page

    return transport


@pytest.mark.parametrize(
    "paging, page", [("token", "page 2 (token '20')"), ("indexed", "page 2")]
)
def test_wrong_typed_leaf_fails_the_read_naming_its_page(spark, paging, page):
    """A value whose JSON type does not fit its RAW_STUDY leaf aborts
    the read, like any other page error; the error names the page and
    carries Arrow's own message."""
    with pytest.raises(pa.ArrowTypeError) as arrow:
        pa.array([{"protocolSection": {"identificationModule": {"nctId": 20}}}], type=rest.ARROW_STUDY)
    df = _read(
        spark,
        transport_factory="tests.test_rest_source:wrong_leaf_transport",
        transport_args=json.dumps([2, paging == "indexed"]),
        page_size="10",
        paging=paging,
        max_pages="6",
    )
    with pytest.raises(Exception) as err:
        df.collect()
    assert f"ctgov_rest {page}: " in str(err.value)
    assert str(arrow.value) in str(err.value)


def _classes(tree):
    """Every ``class`` named in a Catalyst tree's JSON form: plan nodes
    and the expressions inside them."""
    if isinstance(tree, dict):
        return [*([tree["class"]] if "class" in tree else []), *_classes(list(tree.values()))]
    if isinstance(tree, list):
        return [c for v in tree for c in _classes(v)]
    return []


def test_pipeline_plan_parses_no_json_and_has_one_python_stage(spark):
    """The source's ``study`` column is typed already: the pipeline's
    optimized plan has no JSON parse, and its only Python stage besides
    the source scan is the labelling ``MapInPandas``."""
    from ctgov_ai_etl_spark.plans.pipeline import run_pipeline

    cfg = {"ctgov": dict(FIXTURE_OPTS)}
    plan = json.loads(run_pipeline(spark, cfg)._jdf.queryExecution().optimizedPlan().toJSON())
    assert not [c for c in _classes(plan) if c.endswith(".JsonToStructs")]
    nodes = [n["class"].rsplit(".", 1)[-1] for n in plan]
    assert [n for n in nodes if re.search("Python|Pandas|Arrow", n)] == ["MapInPandas"]
    assert nodes[-1] == "DataSourceV2ScanRelation"


def test_pipeline_runs_register_the_source_once_per_session(spark, monkeypatch):
    """Two pipeline runs in one session register ``ctgov_rest`` once:
    each re-registration replaces the source and logs a warning."""
    from pyspark.sql.datasource import DataSourceRegistration

    from ctgov_ai_etl_spark.plans.pipeline import run_pipeline

    calls = []
    register = DataSourceRegistration.register
    monkeypatch.setattr(rest, "_REGISTERED_SESSIONS", set())
    monkeypatch.setattr(
        DataSourceRegistration, "register", lambda self, ds: calls.append(ds) or register(self, ds)
    )
    cfg = {"ctgov": dict(FIXTURE_OPTS)}
    assert [run_pipeline(spark, cfg).count() for _ in range(2)] == [57, 57]
    assert calls == [rest.RestStudiesDataSource]
