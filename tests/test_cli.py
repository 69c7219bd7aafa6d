"""End-to-end test of the spacetime-etl-style CLI step runner: the
reference's usage surface (config file + step dirs) on fixtures."""

import glob
import gzip
import io
import json
import os
import shutil
import subprocess
import sys
import tarfile

import pytest

from etl_city_directories_spark import cli
from etl_city_directories_spark.cli import STEPS, run
from etl_city_directories_spark.operators.ingest import FIXTURES, _UUID, fixture_archive
from etl_city_directories_spark.sources.ndjson import SCHEMA_FILE, write_ndjson
from perfbench import gen
from perfbench.etl import check_step
from tools.plan_audit import fingerprint


def _write_config(tmp_path, **cfg):
    cfg_path = os.path.join(tmp_path, "config.json")
    with open(cfg_path, "w", encoding="utf-8") as f:
        json.dump(cfg, f)
    return cfg_path


def _read_ndjson_dir(path):
    rows = []
    for part in glob.glob(os.path.join(path, "*.json")):
        with open(part, encoding="utf-8") as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


@pytest.fixture(scope="module")
def cli_work(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("cli_work"))
    data = str(tmp_path_factory.mktemp("cli_data"))
    shutil.copy(fixture_archive(), data)
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w", encoding="utf-8") as f:
        json.dump(
            {
                "tableUrl": os.path.join(FIXTURES, "manifest.html"),
                "dataUrl": data,
                "minYear": 1850,
                "maxYear": 1890,
            },
            f,
        )
    counts = run(cfg_path, work, spark=spark)
    return work, counts


def test_all_steps_produce_rows(cli_work):
    _, counts = cli_work
    assert list(counts) == list(STEPS)
    assert all(v > 0 for v in counts.values()), counts


def test_download_error_file_contract(cli_work):
    """Manifest rows without an archive produce {uuid}.xml error files
    and the run continues (city-directories.js:91-97)."""
    work, _ = cli_work
    names = sorted(os.listdir(os.path.join(work, "download", "data")))
    tars = [n for n in names if n.endswith(".tar.gz")]
    errs = [n for n in names if n.endswith(".xml")]
    assert tars == ["c6725860-7ce9-0134-fb06-00505686a51c.tar.gz"]
    assert len(errs) == 3  # the other well-formed manifest rows


def test_transform_object_contract(cli_work):
    """st:Person objects carry the reference's makeId and field shape
    (city-directories.js:261-270, :409-430)."""
    work, _ = cli_work
    objs = _read_ndjson_dir(os.path.join(work, "transform", "objects.ndjson"))
    assert objs
    for o in objs:
        assert o["type"] == "st:Person"
        year, page, bbox = o["id"].split(".")
        assert year == "1850-1851" and int(page) == 25
        assert len(bbox.split("-")) == 4
        assert o["validSince"] == 1850 and o["validUntil"] == 1851
        assert o["volumeUuid"] == "c6725860-7ce9-0134-fb06-00505686a51c"
        assert (o.get("geometry") is not None) == (o["n_geocoded"] > 0)


def test_transform_relations_and_logs(cli_work):
    """Found locations become st:in relations; misses become log rows
    (:395-404, :431-437)."""
    work, _ = cli_work
    rels = _read_ndjson_dir(os.path.join(work, "transform", "relations.ndjson"))
    logs = _read_ndjson_dir(os.path.join(work, "transform", "logs.ndjson"))
    geo = _read_ndjson_dir(os.path.join(work, "geocode", "geocoded.ndjson"))
    n_found = sum(1 for g in geo if g["found"])
    n_miss = sum(1 for g in geo if not g["found"])
    assert len(rels) == n_found > 0
    assert len(logs) == n_miss > 0
    # `to` is the raw address id — same format as cd_relations and the
    # reference's `to: addressId` (city-directories.js:395-399)
    assert all(r["type"] == "st:in" and r["to"].isdigit() for r in rels)
    assert all(lg["type"] == "log" for lg in logs)
    # every relation points at an object, and relations are exactly the
    # geocoded rows with a house-level address id
    objs = _read_ndjson_dir(os.path.join(work, "transform", "objects.ndjson"))
    ids = {o["id"] for o in objs}
    assert all(r["from"] in ids for r in rels)
    assert sorted((r["from"], r["to"]) for r in rels) == sorted(
        (g["id"], str(g["address_id"])) for g in geo if g.get("address_id") is not None
    )


def test_download_with_no_archives_at_all(spark, tmp_path):
    """A dataUrl directory containing zero .tar.gz files must not
    abort: the per-uuid error-file contract still applies — EVERY
    manifest row gets an empty {uuid}.xml and status marks them all
    'error' (r04 advice: the bare glob raised path-not-found)."""
    work = str(tmp_path / "w3")
    data = str(tmp_path / "d3")
    os.makedirs(data)  # empty — no archives
    cfg_path = os.path.join(tmp_path, "config.json")
    with open(cfg_path, "w", encoding="utf-8") as f:
        json.dump(
            {
                "tableUrl": os.path.join(FIXTURES, "manifest.html"),
                "dataUrl": data,
            },
            f,
        )
    counts = run(cfg_path, work, ["download"], spark=spark)
    assert counts["download"] == 4  # every manifest row has a status
    names = sorted(os.listdir(os.path.join(work, "download", "data")))
    assert all(n.endswith(".xml") for n in names) and len(names) == 4
    status = _read_ndjson_dir(os.path.join(work, "download", "status.ndjson"))
    assert all(s["status"] == "error" for s in status)


def test_download_over_http(spark, tmp_path, http_archives):
    """``dataUrl`` is a base URI, as in the reference (:76-89): from a
    loopback http:// server the one archive it holds downloads byte for
    byte, and each 404 leaves an empty ``{uuid}.xml`` (:91-97)."""
    base, archive_bytes = http_archives
    work = str(tmp_path / "w_http")
    cfg_path = _write_config(
        tmp_path, tableUrl=os.path.join(FIXTURES, "manifest.html"), dataUrl=base
    )
    counts = run(cfg_path, work, ["download"], spark=spark)
    status = _read_ndjson_dir(os.path.join(work, "download", "status.ndjson"))
    assert counts["download"] == len(status) == 4
    assert [(s["uuid"], s["n_bytes"]) for s in status if s["status"] == "downloaded"] == [
        (_UUID, len(archive_bytes))
    ]
    data = os.path.join(work, "download", "data")
    with open(os.path.join(data, f"{_UUID}.tar.gz"), "rb") as f:
        assert f.read() == archive_bytes
    errors = [s for s in status if s["status"] == "error"]
    assert len(errors) == 3
    for s in errors:
        assert s["filename"] == f"{s['uuid']}.xml"
        assert os.path.getsize(os.path.join(data, s["filename"])) == 0


def test_download_rejects_unfetchable_data_url(spark, tmp_path):
    """A dataUrl scheme the fetcher cannot serve fails on the driver
    before the step writes anything, instead of marking every manifest
    row ``error``."""
    work = str(tmp_path / "w_s3")
    cfg_path = _write_config(
        tmp_path, tableUrl=os.path.join(FIXTURES, "manifest.html"), dataUrl="s3://bucket/cd"
    )
    with pytest.raises(ValueError, match="s3"):
        run(cfg_path, work, ["download"], spark=spark)
    assert not os.path.exists(os.path.join(work, "download", "status.ndjson"))
    assert not os.path.exists(os.path.join(work, "download", "manifest.ndjson"))


def _repeated_row_manifest(tmp_path):
    """The fixture manifest with the fixture archive's row listed twice."""
    with open(os.path.join(FIXTURES, "manifest.html"), encoding="utf-8") as f:
        html = f.read()
    row = html[html.index(f"<tr><td>{_UUID}"):]
    row = row[: row.index("</tr>") + len("</tr>")]
    manifest = str(tmp_path / "manifest.html")
    with open(manifest, "w", encoding="utf-8") as f:
        f.write(html.replace(row, row + row))
    return manifest


def test_duplicate_manifest_row_is_fetched_once(spark, tmp_path):
    """The manifest keeps a repeated row, but its archive is fetched
    once and has one status row."""
    data = str(tmp_path / "d_dup")
    os.makedirs(data)
    shutil.copy(fixture_archive(), data)
    manifest = _repeated_row_manifest(tmp_path)
    work = str(tmp_path / "w_dup")
    counts = run(_write_config(tmp_path, tableUrl=manifest, dataUrl=data), work,
                 ["download"], spark=spark)
    rows = _read_ndjson_dir(os.path.join(work, "download", "manifest.ndjson"))
    assert [m["uuid"] for m in rows].count(_UUID) == 2
    status = _read_ndjson_dir(os.path.join(work, "download", "status.ndjson"))
    assert counts["download"] == len(status) == len({s["uuid"] for s in status}) == 4


def test_duplicate_manifest_row_is_parsed_once(spark, tmp_path, cli_work):
    """A uuid the manifest lists twice is read once: parse writes each
    of its lines once, the same lines as with the row listed once, so
    no object id repeats downstream."""
    data = str(tmp_path / "d_dup_parse")
    os.makedirs(data)
    shutil.copy(fixture_archive(), data)
    cfg = _write_config(
        tmp_path, tableUrl=_repeated_row_manifest(tmp_path), dataUrl=data,
        minYear=1850, maxYear=1890,
    )
    work = str(tmp_path / "w_dup_parse")
    counts = run(cfg, work, ["download", "parse"], spark=spark)

    def lines(w):
        rows = _read_ndjson_dir(os.path.join(w, "parse", "lines.ndjson"))
        return sorted((ln["id"], ln["year_raw"], ln["text"]) for ln in rows)

    assert counts["parse"] == cli_work[1]["parse"]
    assert lines(work) == lines(cli_work[0])
    assert len({i for i, _, _ in lines(work)}) == counts["parse"]


def test_uppercase_uuid_volume_is_parsed(spark, tmp_path, cli_work):
    """Parse takes each line's uuid from its archive's file name, the
    name download gave it, whatever characters the manifest's uuid
    holds: a volume listed under an uppercase uuid yields the same
    lines as under the lowercase one."""
    upper = _UUID.upper()
    with open(os.path.join(FIXTURES, "manifest.html"), encoding="utf-8") as f:
        html = f.read()
    manifest = tmp_path / "manifest_upper.html"
    manifest.write_text(html.replace(_UUID, upper), encoding="utf-8")
    data = tmp_path / "d_upper"
    data.mkdir()
    shutil.copy(fixture_archive(), data / f"{upper}.tar.gz")
    work = str(tmp_path / "w_upper")
    cfg = _write_config(tmp_path, tableUrl=str(manifest), dataUrl=str(data),
                        minYear=1850, maxYear=1890)
    counts = run(cfg, work, ["download", "parse"], spark=spark)
    lines = _read_ndjson_dir(os.path.join(work, "parse", "lines.ndjson"))
    assert {ln["uuid"] for ln in lines} == {upper}
    assert counts["parse"] == len(lines) == cli_work[1]["parse"] > 0


def test_parse_silently_skips_missing_archives(cli_work):
    """The reference SKIPS manifest rows whose tar.gz was never
    downloaded instead of erroring (city-directories.js:195's
    fs.existsSync filter before the parse loop). The module fixture's
    manifest names 4 volumes but only one archive exists: the full
    step run must complete (no exception — pinned by the fixture
    itself), parse must emit rows ONLY for the present volume, and the
    3 absent volumes must contribute nothing — not even empty/error
    rows — to the parse output (their error artifact lives solely in
    the download step's {uuid}.xml contract)."""
    work, counts = cli_work
    assert counts["parse"] > 0
    lines = _read_ndjson_dir(os.path.join(work, "parse", "lines.ndjson"))
    assert lines
    present = "c6725860-7ce9-0134-fb06-00505686a51c"
    assert {ln["uuid"] for ln in lines} == {present}


def test_parse_skips_archive_missing_after_download(spark, tmp_path):
    """Same semantics when an archive disappears BETWEEN download and
    parse (the reference re-checks existence at parse time, not
    download status): delete the downloaded tar.gz, rerun parse only —
    zero rows, zero errors."""
    work = str(tmp_path / "w_gone")
    data = str(tmp_path / "d_gone")
    os.makedirs(data)
    shutil.copy(fixture_archive(), data)
    cfg_path = os.path.join(tmp_path, "config.json")
    with open(cfg_path, "w", encoding="utf-8") as f:
        json.dump(
            {
                "tableUrl": os.path.join(FIXTURES, "manifest.html"),
                "dataUrl": data,
            },
            f,
        )
    counts = run(cfg_path, work, ["download"], spark=spark)
    assert counts["download"] > 0
    for tar in glob.glob(os.path.join(work, "download", "data", "*.tar.gz")):
        os.remove(tar)
    counts = run(cfg_path, work, ["parse"], spark=spark)
    assert counts["parse"] == 0


def test_failed_refetch_leaves_no_stale_archive(spark, tmp_path):
    """A re-download into the same work dir whose fetch now fails marks
    the volume ``error`` and removes the archive an earlier run left,
    so parse reads nothing for it; a later successful fetch removes the
    error file in turn. No uuid keeps both files."""
    work, data, empty = (str(tmp_path / n) for n in ("w", "d", "e"))
    os.makedirs(data)
    os.makedirs(empty)
    shutil.copy(fixture_archive(), data)
    manifest = os.path.join(FIXTURES, "manifest.html")
    hit = _write_config(tmp_path, tableUrl=manifest, dataUrl=data)
    assert run(hit, work, ["download", "parse"], spark=spark)["parse"] > 0

    def files_by_uuid():
        by_uuid = {}
        for n in os.listdir(os.path.join(work, "download", "data")):
            by_uuid.setdefault(n.split(".")[0], set()).add(n.split(".", 1)[1])
        return by_uuid

    miss = _write_config(tmp_path, tableUrl=manifest, dataUrl=empty)
    assert run(miss, work, ["download", "parse"], spark=spark)["parse"] == 0
    status = _read_ndjson_dir(os.path.join(work, "download", "status.ndjson"))
    assert {r["status"] for r in status} == {"error"}
    assert set(map(frozenset, files_by_uuid().values())) == {frozenset({"xml"})}

    hit = _write_config(tmp_path, tableUrl=manifest, dataUrl=data)
    assert run(hit, work, ["download", "parse"], spark=spark)["parse"] > 0
    assert files_by_uuid()[_UUID] == {"tar.gz"}


def test_year_window_excludes_all(spark, tmp_path, cli_work):
    """A minYear above every directory leaves parse empty — the
    reference's directory windowing (:191-195). Parse still writes an
    empty output that carries the same schema as a non-empty one, so
    the later steps run on it and write empty outputs instead of
    failing on a missing path."""
    work = str(tmp_path / "w2")
    data = str(tmp_path / "d2")
    os.makedirs(data)
    shutil.copy(fixture_archive(), data)
    cfg_path = os.path.join(tmp_path, "config.json")
    with open(cfg_path, "w", encoding="utf-8") as f:
        json.dump(
            {
                "tableUrl": os.path.join(FIXTURES, "manifest.html"),
                "dataUrl": data,
                "minYear": 1990,
            },
            f,
        )
    counts = run(cfg_path, work, spark=spark)
    assert counts == {"download": counts["download"], "parse": 0, "geocode": 0, "transform": 0}
    assert counts["download"] > 0
    for step, name in (("parse", "lines"), ("geocode", "geocoded"), ("transform", "objects")):
        schemas = [
            open(os.path.join(w, step, f"{name}.ndjson", SCHEMA_FILE), encoding="utf-8").read()
            for w in (work, cli_work[0])
        ]
        assert schemas[0] == schemas[1], step
    out = os.path.join(work, "transform")
    for name in ("objects", "relations", "logs"):
        assert os.path.isdir(os.path.join(out, f"{name}.ndjson"))
        assert _read_ndjson_dir(os.path.join(out, f"{name}.ndjson")) == []


def test_geocode_custom_addresses(spark, tmp_path):
    """The addresses config key swaps in a real address dataset: a
    custom dim that only knows one address geocodes exactly that one."""
    work = str(tmp_path / "w3")
    data = str(tmp_path / "d3")
    os.makedirs(data)
    shutil.copy(fixture_archive(), data)
    dim_path = str(tmp_path / "addresses.parquet")
    spark.createDataFrame(
        [(1, "88 Water", "Water", "S1", 1.0, 88.0)],
        "address_id long, address_name string, street_name string,"
        " street_id string, geom_x double, geom_y double",
    ).write.parquet(dim_path)
    cfg_path = os.path.join(tmp_path, "config.json")
    with open(cfg_path, "w", encoding="utf-8") as f:
        json.dump(
            {
                "tableUrl": os.path.join(FIXTURES, "manifest.html"),
                "dataUrl": data,
                "addresses": dim_path,
            },
            f,
        )
    run(cfg_path, work, ["download", "parse", "geocode"], spark=spark)
    geo = _read_ndjson_dir(os.path.join(work, "geocode", "geocoded.ndjson"))
    hits = [g for g in geo if g["found"]]
    assert hits and all(g["loc_norm"].lower() == "88 water" for g in hits)
    assert any(not g["found"] for g in geo)


def test_step_counts_match_written_lines(cli_work):
    """Each step returns the row count of its main output, taken from
    the write itself: it must equal the NDJSON lines in the part files
    (for download, one status row per distinct manifest uuid)."""
    work, counts = cli_work
    outputs = {
        "download": "status.ndjson",
        "parse": "lines.ndjson",
        "geocode": "geocoded.ndjson",
        "transform": "objects.ndjson",
    }
    for step, name in outputs.items():
        rows = _read_ndjson_dir(os.path.join(work, step, name))
        assert counts[step] == len(rows), (step, counts[step], len(rows))
    status = _read_ndjson_dir(os.path.join(work, "download", "status.ndjson"))
    assert len({s["uuid"] for s in status}) == len(status)


def test_manifest_with_no_valid_directory(spark, tmp_path):
    """A manifest none of whose rows has every required field writes an
    empty manifest.ndjson. Spark's JSON writer leaves no field behind
    for it, so a re-inferred schema had no columns and parse failed on
    the maxYear filter's `year_end`; the stored schema keeps them."""
    data = str(tmp_path / "d_nodir")
    os.makedirs(data)
    shutil.copy(fixture_archive(), data)
    with open(os.path.join(FIXTURES, "manifest.html"), encoding="utf-8") as f:
        html = f.read()
    # blank every columnCount cell: the reference drops such rows (:130)
    for cc in ("2", "3", "4"):
        html = html.replace(f"<td>{cc}</td></tr>", "<td></td></tr>")
    manifest = str(tmp_path / "manifest.html")
    with open(manifest, "w", encoding="utf-8") as f:
        f.write(html)
    cfg_path = _write_config(tmp_path, tableUrl=manifest, dataUrl=data, maxYear=1890)
    counts = run(cfg_path, str(tmp_path / "w_nodir"), ["download", "parse"], spark=spark)
    assert counts == {"download": 0, "parse": 0}


def test_geocode_with_no_hits(spark, tmp_path):
    """An address dataset that matches no location leaves `address_id`
    null in every geocoded row. The JSON writer drops it, so transform's
    join on it failed to resolve; with the stored schema all four steps
    complete, with no relations and one log row per location."""
    data = str(tmp_path / "d_nohit")
    os.makedirs(data)
    shutil.copy(fixture_archive(), data)
    dim_path = str(tmp_path / "addresses.parquet")
    spark.createDataFrame(
        [(1, "1 Nowhere", "Nowhere", "S1", 1.0, 1.0)],
        "address_id long, address_name string, street_name string,"
        " street_id string, geom_x double, geom_y double",
    ).write.parquet(dim_path)
    cfg_path = _write_config(
        tmp_path,
        tableUrl=os.path.join(FIXTURES, "manifest.html"),
        dataUrl=data,
        addresses=dim_path,
    )
    work = str(tmp_path / "w_nohit")
    counts = run(cfg_path, work, spark=spark)
    assert list(counts) == list(STEPS) and counts["geocode"] > 0
    geo = _read_ndjson_dir(os.path.join(work, "geocode", "geocoded.ndjson"))
    assert not any(g["found"] for g in geo)
    out = os.path.join(work, "transform")
    assert _read_ndjson_dir(os.path.join(out, "relations.ndjson")) == []
    assert len(_read_ndjson_dir(os.path.join(out, "logs.ndjson"))) == counts["geocode"]
    assert len(_read_ndjson_dir(os.path.join(out, "objects.ndjson"))) == counts["transform"]


def test_pages_sharing_a_number_keep_their_own_locations(spark, tmp_path):
    """Two hOCR members of one archive may carry the same page number.
    Each object counts its own line's locations, not those of the line
    at the same place on the other page: the page's uuid is part of
    the key that geocode carries and transform groups on."""
    with open(os.path.join(FIXTURES, "sample_entries.hocr"), "rb") as f:
        hocr = f.read()
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for image_id, page_uuid in (("111", "pageA"), ("222", "pageB")):
            info = tarfile.TarInfo(f"{_UUID}/20.{image_id}.{page_uuid}.processed.hocr")
            info.size = len(hocr)
            tf.addfile(info, io.BytesIO(hocr))
    data = tmp_path / "d_pages"
    data.mkdir()
    (data / f"{_UUID}.tar.gz").write_bytes(gzip.compress(buf.getvalue()))
    work = str(tmp_path / "w_pages")
    cfg = _write_config(
        tmp_path, tableUrl=os.path.join(FIXTURES, "manifest.html"), dataUrl=str(data)
    )
    run(cfg, work, spark=spark)
    lines = _read_ndjson_dir(os.path.join(work, "parse", "lines.ndjson"))
    geo = _read_ndjson_dir(os.path.join(work, "geocode", "geocoded.ndjson"))
    objs = _read_ndjson_dir(os.path.join(work, "transform", "objects.ndjson"))
    assert {o["pageUuid"] for o in objs} == {"pageA", "pageB"}
    # the two pages hold the same lines, so (page uuid, id) names a line
    assert {(o["pageUuid"], o["id"]): o["n_locations"] for o in objs} == {
        (ln["page_uuid"], ln["id"]): len(ln["locations"]) for ln in lines
    }
    assert sum(o["n_geocoded"] for o in objs) == sum(
        g.get("address_id") is not None for g in geo
    )


def test_transform_gives_one_object_per_line(spark, tmp_path):
    """Every parsed line gives exactly one object, also when two lines
    share a key or a key part is null. Lines that share a key share its
    geocode rows; a line with a null key part matches none."""
    work = str(tmp_path / "w_keys")
    lines = spark.createDataFrame(
        [
            ("u1", 3, 0, "p1", "1850", "Wilson Jas, porter, h 23 Pearl",
             "Wilson Jas", ["porter"], [("23 Pearl", "home")], "a"),
            ("u1", 3, 0, "p1", "1850", "Brown Wm, lab., 88 Water",
             "Brown Wm", ["lab."], [("88 Water", "address")], "b"),
            ("u1", 3, None, "p1", "1850", "Smith Jno, cartman, 23 Pearl",
             "Smith Jno", ["cartman"], [("23 Pearl", "address")], "c"),
            ("u1", 3, None, "p1", "1850", "Jones Ann, widow",
             "Jones Ann", [], [], "d"),
        ],
        "uuid string, page_num int, line_index int, page_uuid string,"
        " year_raw string, text string, subject string,"
        " occupations array<string>,"
        " locations array<struct<value: string, loc_type: string>>, id string",
    )
    write_ndjson(lines, os.path.join(work, "parse", "lines.ndjson"))
    assert cli.step_geocode(spark, {}, work) == 3
    assert cli.step_transform(spark, {}, work) == 4
    objs = _read_ndjson_dir(os.path.join(work, "transform", "objects.ndjson"))
    assert sorted((o["id"], o["n_locations"]) for o in objs) == [
        ("a", 2), ("b", 2), ("c", 0), ("d", 0)
    ]
    assert [o.get("geometry") for o in objs if o["id"] in ("c", "d")] == [None, None]


# Spark jobs per step on the fixture run: one write job per output plus
# the broadcasts and shuffle stages their plans need. A re-read to count
# rows or a schema-inference pass adds jobs and trips this budget.
STEP_JOB_BUDGET = {"download": 2, "parse": 2, "geocode": 3, "transform": 4}


def test_step_job_budget(spark, tmp_path, newest_job_id):
    data = str(tmp_path / "d_budget")
    os.makedirs(data)
    shutil.copy(fixture_archive(), data)
    cfg = {
        "tableUrl": os.path.join(FIXTURES, "manifest.html"),
        "dataUrl": data,
        "minYear": 1850,
        "maxYear": 1890,
    }
    work = str(tmp_path / "w_budget")
    jobs = {}
    for step in STEPS:
        before = newest_job_id()
        getattr(cli, f"step_{step}")(spark, cfg, work)
        jobs[step] = newest_job_id() - before
    over = {s: n for s, n in jobs.items() if n > STEP_JOB_BUDGET[s]}
    assert not over, f"jobs {jobs} over budget {STEP_JOB_BUDGET}"


def test_geocode_pins_no_large_page(spark, tmp_path):
    """Geocode's two address-dim broadcasts hold their hash tables in
    storage memory until the context cleaner drops them, at least one
    Tungsten page each. With pages sized to the heap
    (``session.page_size_bytes``) the step adds under 4 MB; with Spark's
    default, 64 MB pages at an 8 GB heap on local[4], it added 128 MB.
    A concurrent cleaner release can only shrink the delta."""
    data = str(tmp_path / "d_pages")
    os.makedirs(data)
    shutil.copy(fixture_archive(), data)
    cfg = {"tableUrl": os.path.join(FIXTURES, "manifest.html"), "dataUrl": data}
    work = str(tmp_path / "w_pages")
    cli.step_download(spark, cfg, work)
    cli.step_parse(spark, cfg, work)
    memory = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager()
    before = memory.storageMemoryUsed()
    assert cli.step_geocode(spark, cfg, work) > 0
    added_mb = (memory.storageMemoryUsed() - before) / 2**20
    assert added_mb < 4, f"geocode added {added_mb:.1f} MB of storage memory"


def test_surface_divergences(spark, tmp_path):
    """The CLI transform and the cd_* keys replay the same reference
    step but differ on purpose in three places. Each is pinned here, so
    a change to one fails this test and has to say so:

    - log text: the CLI writes "geocode miss", cd_logs writes
      "Address not found: <location>";
    - the id arm: cd_logs logs an entry whose id cannot be made, the
      CLI writes no log row for it;
    - what a miss is: a number-less corner form is found by cd_geocode
      and in the CLI's geocoded output (street-level fallback), yet
      cd_logs reports it as a miss (house-level lookup only).
    """
    from pyspark.sql import functions as F

    from etl_city_directories_spark.operators.citydir import cd_logs, geocode_locations

    corner, miss = "Pearl c Cherry", "26 Elm"  # 26 = 2 x GEOCODE_MISS_MOD
    work = str(tmp_path / "w_div")
    lines = spark.createDataFrame(
        [
            ("u1", 3, 0, "p1", "1850", "Wilson Jas, porter, h Pearl c Cherry",
             "Wilson Jas", ["porter"], [(corner, "home")], "1850.3.0-0-9-9"),
            ("u1", 3, 1, "p1", None, "Brown Wm, lab., 26 Elm",
             "Brown Wm", ["lab."], [(miss, "address")], None),
        ],
        "uuid string, page_num int, line_index int, page_uuid string,"
        " year_raw string, text string, subject string,"
        " occupations array<string>,"
        " locations array<struct<value: string, loc_type: string>>, id string",
    )
    write_ndjson(lines, os.path.join(work, "parse", "lines.ndjson"))
    cli.step_geocode(spark, {}, work)
    cli.step_transform(spark, {}, work)
    geo = _read_ndjson_dir(os.path.join(work, "geocode", "geocoded.ndjson"))
    assert {g["loc_value"]: g["found"] for g in geo} == {corner: True, miss: False}
    cli_logs = _read_ndjson_dir(os.path.join(work, "transform", "logs.ndjson"))
    assert [(lg["loc_value"], lg["error"]) for lg in cli_logs] == [(miss, "geocode miss")]
    objs = _read_ndjson_dir(os.path.join(work, "transform", "objects.ndjson"))
    assert sorted(o.get("id") is None for o in objs) == [False, True]

    # cd_geocode's lookup is geocode_locations: the corner form is found
    found = geocode_locations(
        spark, spark.createDataFrame([(corner,)], "loc_value string")
    ).first()
    assert found.found and found.address_id is None and found.street_id == "S3"

    base = spark.createDataFrame(
        [(1, "1850.3.0-0-9-9", [corner]), (2, None, [miss])],
        "doc_id long, entry_id string, locs array<string>",
    )
    cd = cd_logs(spark, None, base=base).orderBy("doc_id", F.col("log_kind").desc())
    assert [(r.log_kind, r.doc_id, r.loc_value, r.error) for r in cd.collect()] == [
        ("geocode", 1, corner, f"Address not found: {corner}"),
        ("id", 2, None, "Could not make ID"),
        ("geocode", 2, miss, f"Address not found: {miss}"),
    ]


@pytest.fixture(scope="module")
def ledger_run(spark, tmp_path_factory):
    """``cli.run`` over the benchmark generator's tiny inputs, one step at
    a time, with the executed plans of each step's SQL executions, read
    from the SQL status store (live with the UI off) once the step
    returns."""
    inputs = gen.inputs(str(tmp_path_factory.mktemp("gen")), "tiny", 7)
    cfg_path = _write_config(tmp_path_factory.mktemp("ledger"), **inputs.config())
    work = str(tmp_path_factory.mktemp("ledger_work"))
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def newest(n):
        """The newest ``n`` executions, oldest first."""
        total = int(store.executionsCount())
        seq = store.executionsList(max(total - n, 0), min(n, total))
        return [seq.apply(i) for i in range(seq.size())]

    counts, plans = {}, {}
    for step in STEPS:
        bus.waitUntilEmpty()
        last = max((e.executionId() for e in newest(1)), default=-1)
        counts.update(run(cfg_path, work, [step], spark=spark))
        bus.waitUntilEmpty()
        plans[step] = [
            e.physicalPlanDescription() for e in newest(8) if e.executionId() > last
        ]
    return work, counts, inputs.ledger, plans


def test_cli_matches_generator_ledger(ledger_run):
    """The generator's inputs hold two column counts in one run, a page
    window that drops each archive's first and last page, a directory
    outside the year window, a manifest row with no archive and one
    with a blank cell; every step's output must match its ledger."""
    work, counts, ledger, _ = ledger_run
    manifest = _read_ndjson_dir(os.path.join(work, "download", "manifest.ndjson"))
    parsed = {ln["uuid"] for ln in _read_ndjson_dir(os.path.join(work, "parse", "lines.ndjson"))}
    assert len({m["column_count"] for m in manifest if m["uuid"] in parsed}) == 2
    assert list(counts) == list(STEPS)
    for step, n in counts.items():
        assert check_step(step, n, work, ledger) == [], step


def test_parse_is_one_scan_and_one_python_pass(ledger_run):
    """The parse write reads every archive in one binaryFile scan and
    one Python pass (untar, page window, column detection), with no
    union of per-column-count scans and no broadcast: the manifest
    columns ride in a literal map built from the rows the step already
    collected."""
    plan = ledger_run[3]["parse"][-1]
    fp = fingerprint(plan)  # AQE's final plan only
    assert fp.nodes["Execute InsertIntoHadoopFsRelationCommand"] == 1, plan
    assert sum(fp.python.values()) == 1, plan
    assert [fmt for fmt, _ in fp.scans.elements()].count("binaryFile") == 1, plan
    assert not fp.nodes["Union"], plan
    assert fp.broadcasts == 0, plan


def test_transform_broadcasts_nothing(ledger_run):
    """Transform's three writes plan no broadcast, before or after AQE
    re-plans at run time: objects come from one keyed aggregation over
    the lines and their geocode rows, with one shuffle and no join."""
    plans = ledger_run[3]["transform"]
    assert len(plans) == 3, plans
    fps = [fingerprint(p) for p in plans]
    assert [fp.broadcasts for fp in fps] == [0, 0, 0], plans
    assert [sum(fp.joins.values()) for fp in fps] == [0, 0, 0], plans
    assert len(fps[0].shuffles) == 1, plans[0]


def test_cli_runs_from_another_directory(tmp_path):
    """Python workers import the package from any working directory: a
    fresh process runs ``cli.run`` with another working directory and
    no PYTHONPATH, and every step (three start Python workers)
    finishes."""
    data = tmp_path / "data"
    data.mkdir()
    shutil.copy(fixture_archive(), data)
    cfg_path = _write_config(
        tmp_path, tableUrl=os.path.join(FIXTURES, "manifest.html"), dataUrl=str(data)
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(cli.__file__)))
    code = (
        f"import json, sys; sys.path.insert(0, {root!r}); "
        "from etl_city_directories_spark import cli; "
        f"print(json.dumps(cli.run({cfg_path!r}, {str(tmp_path / 'work')!r})))"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    done = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    counts = json.loads(done.stdout.strip().splitlines()[-1])
    assert list(counts) == list(STEPS) and all(n > 0 for n in counts.values()), counts
