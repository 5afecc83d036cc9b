"""Sources layer: CSV realignment semantics, XML loaders, sinks,
multimodal plumbing."""

import os

import pytest

SCHEMA_XML = """
<schema name="demo">
  <relation name="person">
    <attribute name="id" type="int" nullable="false"/>
    <attribute name="name" type="varchar(25)" size="25"/>
    <attribute name="note" type="text" HasSemanticMeaning="false"/>
    <primarykey><attr>id</attr></primarykey>
  </relation>
  <relation name="pet">
    <attribute name="pid" type="int"/>
    <attribute name="owner" type="int"/>
    <foreignkey table="person"><from>owner</from><to>id</to></foreignkey>
  </relation>
</schema>
"""

MAPPING_XML = """
<mappings>
  <mapping id="m1">
    <source><relation>person</relation></source>
    <target><relation>t_person</relation></target>
    <gold_sql>INSERT INTO t_person SELECT id, name FROM person</gold_sql>
  </mapping>
  <mapping id="m2">
    <source><relation>person</relation><relation>pet</relation></source>
    <target><relation>t_person</relation></target>
    <gold_sql>INSERT INTO t_person SELECT id, name FROM person JOIN pet ON owner = id</gold_sql>
    <select_sql>SELECT * FROM t_person</select_sql>
  </mapping>
</mappings>
"""


def test_csv_realignment(spark, tmp_path):
    """S3 semantics: all-string read, rename drift, drop row_id, add missing
    as NULL, project in schema order (InstanceDataHandler.py:104-410)."""
    from scalable_data_integration_with_llms_spark.sources.readers import read_instance_csv

    p = tmp_path / "inst.csv"
    p.write_text("row_id,CustName,balance\n1,alice,10.5\n2,bob,\n")
    df = read_instance_csv(
        spark,
        str(p),
        schema_cols=["name", "balance", "segment"],
        renames={"CustName": "name"},
    )
    assert df.columns == ["name", "balance", "segment"]
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string"] * 3
    rows = {r.name: r for r in df.collect()}
    assert rows["alice"].balance == "10.5"
    assert rows["alice"].segment is None
    assert rows["bob"].balance is None


def test_schema_xml_loader():
    from scalable_data_integration_with_llms_spark.sources.xml_loader import load_schema_xml

    cat = load_schema_xml(SCHEMA_XML)
    person = cat.rel("person")
    assert person.pk == ["id"]
    assert not person.attr("id").nullable
    assert person.attr("name").size == 25
    assert not person.attr("note").meaningful
    assert person.meaningful == ["id", "name"]
    assert cat.rel("pet").foreign_keys == [(("owner",), "person", ("id",))]


def test_mapping_xml_loader_and_subsumption():
    from scalable_data_integration_with_llms_spark.sources.xml_loader import (
        load_mapping_xml,
        remove_subsumed_rules,
    )

    rules = load_mapping_xml(MAPPING_XML)
    assert [r.rule_id for r in rules] == ["m1", "m2"]
    assert rules[1].join_overlap_sql == "SELECT * FROM t_person"
    kept = remove_subsumed_rules(rules)
    assert [r.rule_id for r in kept] == ["m2"]  # m1 ⊆ m2 on both sides


def test_sinks_roundtrip(spark, tmp_path):
    from scalable_data_integration_with_llms_spark.sources.sinks import cached_parquet

    calls = []

    def build():
        calls.append(1)
        return spark.range(5).toDF("k")

    path = str(tmp_path / "cache.parquet")
    a = cached_parquet(spark, path, build)
    b = cached_parquet(spark, path, build)
    assert a.count() == 5 and b.count() == 5
    assert len(calls) == 1  # second read hits the cache


def test_multimodal_plumbing(spark):
    """Schema/batch-shape/1→N contract with the deterministic fake decoder;
    the real decoder rejects payloads with no shipped pixel codec."""
    import numpy as np

    from scalable_data_integration_with_llms_spark.operators.multimodal import (
        attach_media,
        extract_features,
        fake_image_decoder,
        real_decoder,
    )

    docs = spark.createDataFrame([(1, "hello world"), (2, "spark engine")], "doc_id long, text string")
    media = attach_media(docs, "text", "doc_id")
    feats = extract_features(media, decode_fn=fake_image_decoder, frames_per_item=3)
    rows = feats.collect()
    assert len(rows) == 6  # 2 docs × 3 frames
    r = rows[0]
    assert len(r.feature) == 8
    assert r.n_bytes == len("hello world")
    # deterministic across runs
    again = extract_features(media, decode_fn=fake_image_decoder, frames_per_item=3).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))

    with pytest.raises(ValueError):
        real_decoder(b"not a known signature", "image/png")


def test_multimodal_query_registered(spark):
    from scalable_data_integration_with_llms_spark.queries import ORACLES, QUERIES

    assert "q_multimodal_features" in QUERIES
    assert "q_multimodal_features" in ORACLES  # real decode, value-oracled
    df = QUERIES["q_multimodal_features"](spark, "/root/testdata/sf0.001")
    assert df.count() == 500  # one stat row per document's synthesized PNG


def test_xlsx_report_sink(spark, tmp_path):
    """K2 Excel sink: the stdlib OOXML writer produces a structurally valid
    .xlsx — zip parts present, workbook wired to the sheet, header + typed
    cells round-trip through an XML parse."""
    import xml.etree.ElementTree as ET
    import zipfile

    from scalable_data_integration_with_llms_spark.sources.sinks import report_xlsx

    df = spark.createDataFrame(
        [("a & b", 3, 1.5, True), ("<c>", 4, 2.5, False)],
        "name string, n int, score double, flag boolean",
    )
    path = str(tmp_path / "report.xlsx")
    report_xlsx(df, path, sheet_name="metrics")

    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        assert {
            "[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
            "xl/_rels/workbook.xml.rels", "xl/worksheets/sheet1.xml",
        } <= names
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
        assert wb.find("m:sheets/m:sheet", ns).get("name") == "metrics"
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        rows = sheet.findall("m:sheetData/m:row", ns)
        assert len(rows) == 3  # header + 2 data rows
        header = [c.find("m:is/m:t", ns).text for c in rows[0]]
        assert header == ["name", "n", "score", "flag"]
        r1 = rows[1]
        assert r1[0].find("m:is/m:t", ns).text == "a & b"  # escape round-trip
        assert r1[1].get("t") is None and r1[1].find("m:v", ns).text == "3"
        assert r1[3].get("t") == "b"


def test_bibtex_parser_grammar():
    from scalable_data_integration_with_llms_spark.sources.bibtex import (
        merge_first_name_first,
        parse_bib_text,
        split_authors,
    )

    text = """
    @string{me = {unused}}
    @article(paren1, title = "Quoted Title", year = 2000)
    @Book{caps, title = {Braces {Keep} Case}, note = {a,
      multiline, value}}
    """
    es = parse_bib_text(text)
    assert [e["entry_type"] for e in es] == ["article", "book"]
    assert es[0]["key"] == "paren1" and es[0]["fields"]["title"] == "Quoted Title"
    assert es[0]["fields"]["year"] == "2000"
    assert es[1]["fields"]["title"] == "Braces {Keep} Case"
    assert es[1]["fields"]["note"] == "a, multiline, value"

    assert split_authors("Doe, John and Alice Smith and {Research and Co}") == [
        "Doe, John",
        "Alice Smith",
        "{Research and Co}",
    ]
    assert merge_first_name_first("Doe, John") == "John Doe"
    assert merge_first_name_first("von Neumann, Jr, John") == "John von Neumann Jr"
    assert merge_first_name_first("Plain Name") == "Plain Name"
    assert merge_first_name_first("{Research and Co}") == "Research and Co"


def test_bibtex_malformed_input_terminates():
    """An unterminated quoted value must not hang the field loop (r3/r4
    ADVICE: ``find('\"') == -1`` used to reset the scan position to 0)."""
    from scalable_data_integration_with_llms_spark.sources.bibtex import parse_bib_text

    es = parse_bib_text('@article{bad, title = "never closed, year = 1999}')
    assert len(es) == 1 and es[0]["key"] == "bad"
    # the unterminated value consumes to end-of-body; parsing terminates
    assert es[0]["fields"]["title"].startswith("never closed")

    # unterminated value mid-entry: later well-formed entries still parse
    es2 = parse_bib_text(
        '@article{bad, note = "oops}\n@article{good, year = 2001}'
    )
    assert any(e["key"] == "good" and e["fields"].get("year") == "2001" for e in es2)


def test_bibtex_first_seen_dim(spark):
    from scalable_data_integration_with_llms_spark.sources.bibtex import (
        author_dim_first_seen,
        author_occurrences,
        bib_entries_df,
    )

    text = """
    @article{a, author = {Doe, John and Alice Smith}}
    @article{b, author = {john doe and Bob Crow}}
    """
    occ = author_occurrences(bib_entries_df(spark, text))
    ids = {r.name: r.name_id for r in author_dim_first_seen(occ).collect()}
    # title-casing folds "john doe" into "John Doe"; first-seen order ids
    assert ids == {"John Doe": 0, "Alice Smith": 1, "Bob Crow": 2}


def test_xlsx_roundtrip_hostile_values(spark, tmp_path):
    """The K2 xlsx sink and the q_sink_roundtrip parse-back survive the
    hostile cases the round-8 review flagged: NULL cells (self-closing
    <c/>) keep their column position via cell refs, and XML entities
    un-escape on the way back."""
    from scalable_data_integration_with_llms_spark.queries.sinks_q import _xlsx_rows
    from scalable_data_integration_with_llms_spark.sources.sinks import report_xlsx

    rows = [
        (None, 1),                 # NULL first column -> self-closing cell A
        ("a&b<c>\"d\"", 2),        # every escapable character
        ("plain", 3),
    ]
    df = spark.createDataFrame(rows, "o_orderstatus string, n_orders bigint")
    path = str(tmp_path / "hostile.xlsx")
    report_xlsx(df.orderBy(df.n_orders), path)
    assert _xlsx_rows(path) == rows


def test_sink_query_dirs_removed_at_exit(tmp_path):
    """q_sink_roundtrip's outputs and q_dataset_loaders' fixtures live in
    temp dirs that stay readable for the whole process (the returned frames
    are lazy over them) and are removed when the interpreter exits."""
    import inspect
    import subprocess
    import sys

    from scalable_data_integration_with_llms_spark import scratch
    from scalable_data_integration_with_llms_spark.queries import sinks_q

    # both queries take their dir from the one helper
    assert "mkdtemp(" not in inspect.getsource(sinks_q)
    assert inspect.getsource(sinks_q).count("new_dir(") == 2
    assert inspect.getsource(scratch).count("mkdtemp(") == 2
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    code = (
        "import os\n"
        "from scalable_data_integration_with_llms_spark.queries import sinks_q\n"
        "base = sinks_q._loader_base()\n"
        "assert os.path.isfile(os.path.join(base, 'gdc', 'gdc_b', 'cases.csv'))\n"
        "print(sorted(p[:8] for p in os.listdir(os.path.dirname(base))))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo,
        env={**os.environ, "TMPDIR": str(tmp)},
        capture_output=True,
        text=True,
        check=True,
    )
    assert "sdi_load" in out.stdout
    assert list(tmp.iterdir()) == []


def test_event_reads_leave_session_conf_unchanged(spark):
    """The nanos-as-long parquet setting belongs to the session factory: no
    events reader may change session-wide config while a query runs."""
    from scalable_data_integration_with_llms_spark.session import get_spark
    from scalable_data_integration_with_llms_spark.sources.readers import (
        load_events_ntz,
        load_table,
    )
    from scalable_data_integration_with_llms_spark.streaming.events import read_event_stream
    from conftest import SF_DIR as sf_dir

    # re-apply the factory's confs to the shared session, so a value an
    # earlier test left behind cannot mask a reader that sets its own
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    spark = get_spark("sdi-tests")
    before = spark.conf.getAll
    assert before["spark.sql.legacy.parquet.nanosAsLong"] == "true"
    assert load_table(spark, sf_dir, "events").limit(1).count() == 1
    assert load_events_ntz(spark, sf_dir).limit(1).count() == 1
    assert read_event_stream(spark, sf_dir).isStreaming
    assert spark.conf.getAll == before


# -- per-session parquet schema memo (sources/readers._read_parquet) --------


def _jobs_launched(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (its result, the ids of
    the Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _copy_table(tmp_path, name="region"):
    import shutil

    from conftest import SF_DIR

    shutil.copyfile(f"{SF_DIR}/{name}.parquet", tmp_path / f"{name}.parquet")
    return str(tmp_path)


def test_schema_memo_hit_launches_no_job(spark, tmp_path):
    """The first read of a file infers its schema (one job); every later
    read in the session declares the memoized schema and launches none."""
    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    d = _copy_table(tmp_path)
    miss, miss_jobs = _jobs_launched(spark, "memo-miss", lambda: load_table(spark, d, "region"))
    hit, hit_jobs = _jobs_launched(spark, "memo-hit", lambda: load_table(spark, d, "region"))
    assert len(miss_jobs) >= 1
    assert hit_jobs == []
    assert hit.schema == miss.schema
    assert sorted(hit.collect()) == sorted(miss.collect())


def test_schema_memo_invalidated_by_rewrite(spark, tmp_path):
    """Overwriting the file (new modification time and length) re-infers:
    the next read shows the added column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_schema_memo_keyed_on_inference_confs(spark, tmp_path):
    """A conf that changes what inference returns is part of the key:
    toggling binaryAsString re-infers instead of serving the old schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), tmp_path / "bin.parquet")
    d = str(tmp_path)
    assert load_table(spark, d, "bin").schema["b"].dataType.simpleString() == "binary"
    key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    try:
        df, jobs = _jobs_launched(spark, "memo-conf", lambda: load_table(spark, d, "bin"))
    finally:
        spark.conf.unset(key)
    assert len(jobs) >= 1
    assert df.schema["b"].dataType.simpleString() == "string"
    assert load_table(spark, d, "bin").schema["b"].dataType.simpleString() == "binary"


def test_schema_memo_missing_path_keeps_spark_error(spark, tmp_path):
    """A missing path bypasses the memo, so Spark's own PATH_NOT_FOUND is
    raised — also after the directory's other tables are memoized."""
    from pyspark.errors import AnalysisException

    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    d = _copy_table(tmp_path)
    for _ in range(2):
        with pytest.raises(AnalysisException) as exc:
            load_table(spark, d, "nope")
        assert exc.value.getCondition() == "PATH_NOT_FOUND"
        load_table(spark, d, "region")
        load_table(spark, d, "region")


def test_schema_memo_concurrent_reads(spark, tmp_path):
    """Eight driver threads reading the same cold path, with a shortened
    switch interval, all get the same schema and raise nothing; the path is
    memoized afterwards."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    d = _copy_table(tmp_path, "nation")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(lambda: load_table(spark, d, "nation").schema) for _ in range(8)]
            schemas = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(s == schemas[0] for s in schemas)
    _, jobs = _jobs_launched(spark, "memo-threads", lambda: load_table(spark, d, "nation"))
    assert jobs == []


def test_schema_memo_plans_unchanged(spark, tmp_path):
    """A read with the memoized schema plans exactly like the inferring
    read: same optimized plan, same pushed filters and read schema."""
    import re

    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    d = _copy_table(tmp_path)

    def plans():
        df = load_table(spark, d, "region").where("r_regionkey > 1").select("r_name")
        qe = df._jdf.queryExecution()
        return [re.sub(r"#\d+", "#", p.toString()) for p in (qe.optimizedPlan(), qe.executedPlan())]

    miss, hit = plans(), plans()
    assert hit == miss
    assert "PushedFilters: [IsNotNull(r_regionkey), GreaterThan(r_regionkey,1)]" in hit[1]


def test_event_stream_follows_rewritten_ts_layout(spark, tmp_path):
    """The stream's ts layout comes from the file as it is now: rewriting
    events.parquet from TIMESTAMP(MICROS) to TIMESTAMP(NANOS) in the same
    session switches the stream to the nanos branch, and both drains read
    the same instants."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from scalable_data_integration_with_llms_spark.streaming.events import (
        read_event_stream,
        run_to_memory,
    )

    ts = [dt.datetime(2024, 1, 1, 0, 0, 0, 123456), dt.datetime(2024, 1, 2, 12, 30)]

    def write(unit):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([1, 2], pa.int64()),
                    "ts": pa.array(ts, pa.timestamp(unit)),
                    "user_id": pa.array([7, 8], pa.int64()),
                    "event_type": ["view", "buy"],
                    "value": [1.5, 2.5],
                    "props": ["{}", "{}"],
                }
            ),
            tmp_path / "events.parquet",
            coerce_timestamps=None,
        )

    def drain(name):
        stream = read_event_stream(spark, str(tmp_path)).select("event_id", "ts")
        rows = run_to_memory(spark, stream, name, mode="append").collect()
        return sorted((r.event_id, r.ts) for r in rows)

    write("us")
    micros = drain("sdi_ts_layout_micros")
    write("ns")
    assert drain("sdi_ts_layout_nanos") == micros
    assert [e for e, _ in micros] == [1, 2]
