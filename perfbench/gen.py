"""Seeded inputs for the benchmark workloads, and the ledger of what the
city-directories pipeline must produce from them.

Everything here is a pure function of (shape, seed): the same pair
writes byte-identical files, so a run can be repeated exactly and inputs
are cached on disk under their (shape, seed) name. Generation is never
timed.

hOCR archives follow the reference layout: ``{uuid}.tar.gz`` holding
``{pageNum}.{imageId}.{pageUuid}.processed.hocr`` members, listed by a
manifest HTML table. Entry lines use the seven forms the real-form
parser covers (widow-of, ``wid.``, abbreviated occupation, ``bds``,
``r``, number-less corner, work+home pair) and the page noise it must
survive: 2-4 declared columns (the in-window directories cycle through
all three, so the amount of work does not depend on the seed), dot runs, indented continuation lines and
a running head that column detection drops. The manifest also carries a
row with no archive, a row outside the year window and a row with a
blank required cell.

The ledger is derived from what was written, not from running the
program: per-step row counts, the multiset of object ids
(``year.page.bbox``), and the relation and log counts.
"""

from __future__ import annotations

import gzip
import io
import json
import os
import random
import shutil
import tarfile
from dataclasses import dataclass

from etl_city_directories_spark.operators.citydir import GEOCODE_MISS_MOD, STREETS

MIN_YEAR, MAX_YEAR = 1850, 1890
MAX_HOUSE = 300  # the built-in address dim holds house numbers 1..MAX_HOUSE

FIRST = ("Wm", "Jas", "John", "Chas", "Thos", "Geo", "Mary", "Sarah",
         "Robt", "Saml", "Edw", "Peter", "Ann", "Eliza", "Benj", "Danl")
LAST = ("Smith", "Brown", "Miller", "Jones", "Taylor", "Wilson", "Davis",
        "Clark", "Lewis", "Walker", "Young", "King", "Hall", "Allen",
        "Wright", "Scott", "Green", "Adams", "Nelson", "Hill")
OCCS = ("carpenter", "grocer", "clerk", "tailor", "porter", "mason",
        "printer", "cartman", "shoemaker", "merchant", "teacher", "painter")
ABBR_OCCS = ("lab.", "carp.", "mer.", "shoem.", "bookb.", "cabinetm.")
# streets the built-in address dim does not know: geocode misses
UNKNOWN_STREETS = ("Vine", "Spruce", "Dey", "Gold", "Rose", "Frankfort",
                   "Jay", "Oliver")

COLUMN_PITCH_PX = 600
COLUMN_X0_PX = 100
INDENT_PX = 60  # continuation indent: past the column tolerance, under MAX_INDENT_PX
HEAD_OFFSET_PX = 300  # running head: too far right of column 0 to be an entry
LINE_PITCH_PX = 50
LINE_HEIGHT_PX = 38


@dataclass(frozen=True)
class Shape:
    dirs: int  # directories with an archive inside the year window
    pages: int  # pages per archive; the manifest window drops the first and last
    rows: int  # entries per column per page


SHAPES = {
    "tiny": Shape(dirs=2, pages=3, rows=8),
    "full": Shape(dirs=3, pages=6, rows=30),
}


@dataclass(frozen=True)
class Inputs:
    root: str
    manifest: str
    archives: str
    ledger: dict

    def config(self) -> dict:
        """The CLI config for these inputs (``cli.run``'s JSON file)."""
        return {
            "tableUrl": self.manifest,
            "dataUrl": self.archives,
            "minYear": MIN_YEAR,
            "maxYear": MAX_YEAR,
        }


def _house_found(n: int, street: str) -> bool:
    """Whether the built-in address dim holds this house."""
    return street in STREETS and 1 <= n <= MAX_HOUSE and n % GEOCODE_MISS_MOD != 0


def _uuid(rng: random.Random) -> str:
    h = f"{rng.getrandbits(128):032x}"
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _entry(rng: random.Random) -> tuple[list[str], list[str]]:
    """One directory entry: its printed line(s) (a second line is an
    indented continuation) and the location values the parser yields."""

    def street() -> str:
        if rng.random() < 0.08:
            return rng.choice(UNKNOWN_STREETS)
        return rng.choice(STREETS)

    def house() -> str:
        # numbers past MAX_HOUSE are misses
        return f"{rng.randint(1, MAX_HOUSE + 20)} {street()}"

    name = f"{rng.choice(LAST)} {rng.choice(FIRST)}"
    occ = rng.choice(OCCS)
    if rng.random() < 0.2:
        occ += "." * rng.randint(2, 4)  # OCR dot run
    form = rng.randrange(7)
    if form == 0:
        h = house()
        return [f"{name}, widow of {rng.choice(FIRST)}, h {h}"], [h]
    if form == 1:
        h = house()
        return [f"{name}, wid. {rng.choice(FIRST)}, {h}"], [h]
    if form == 2:
        h = house()
        return [f"{name}, {rng.choice(ABBR_OCCS)}, h {h}"], [h]
    if form == 3:
        h = house()
        return [f"{name}, {occ}, bds {h}"], [h]
    if form == 4:
        h = house()
        return [f"{name}, {occ}, r {h}"], [h]
    if form == 5:
        corner = f"{street()} c {street()}"
        return [f"{name}, {occ}, h {corner}"], [corner]
    work, home = house(), house()
    if rng.random() < 0.35:
        return [f"{name}, {occ}, {work},", f"h {home}"], [work, home]
    return [f"{name}, {occ}, {work}, h {home}"], [work, home]


def _hocr_line(lid: str, bbox: tuple[int, int, int, int], text: str) -> str:
    x0, y0, x1, y1 = bbox
    words = text.split(" ")
    step = max(1, (x1 - x0) // len(words))
    spans = []
    for j, w in enumerate(words):
        wx0 = x0 + j * step
        spans.append(
            f"      <span class='ocrx_word' id='word_{lid}_{j + 1}' "
            f"title='bbox {wx0} {y0} {wx0 + step - 10} {y1}'>{w}</span>"
        )
    return (
        f"     <span class='ocr_line' id='line_{lid}' "
        f"title=\"bbox {x0} {y0} {x1} {y1}; baseline 0 -8\">\n"
        + "\n".join(spans)
        + "\n     </span>"
    )


def _page(rng, page_num, k, rows, year_part, entries):
    """One hOCR page of ``k`` columns; appends (id, locations) per entry
    to ``entries`` exactly as the pipeline will stitch and key it."""
    width = COLUMN_X0_PX + COLUMN_PITCH_PX * k + 100
    height = 200 + LINE_PITCH_PX * rows * 2
    hx = COLUMN_X0_PX + HEAD_OFFSET_PX
    lines = [
        _hocr_line("0", (hx, 120, hx + 400, 158),
                   f"{rng.choice(LAST).upper()} {page_num} DIRECTORY")
    ]
    for c in range(k):
        x0 = COLUMN_X0_PX + COLUMN_PITCH_PX * c
        y = 200
        for _ in range(rows):
            texts, locs = _entry(rng)
            bbox = (x0, y, x0 + 250 + rng.randrange(300), y + LINE_HEIGHT_PX)
            lines.append(_hocr_line(str(len(lines)), bbox, texts[0]))
            y += LINE_PITCH_PX
            if len(texts) == 2:
                cx0 = x0 + INDENT_PX
                cont = (cx0, y, cx0 + 100 + rng.randrange(150), y + LINE_HEIGHT_PX)
                lines.append(_hocr_line(str(len(lines)), cont, texts[1]))
                y += LINE_PITCH_PX
                # stitching: the entry's bbox is the union of its lines
                bbox = (x0, bbox[1], max(bbox[2], cont[2]), cont[3])
            entries.append(
                (f"{year_part}.{page_num}.{bbox[0]}-{bbox[1]}-{bbox[2]}-{bbox[3]}", locs)
            )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<html xmlns="http://www.w3.org/1999/xhtml" xml:lang="en" lang="en">\n'
        " <head><title></title><meta name='ocr-system' content='tesseract' /></head>\n"
        " <body>\n"
        f"  <div class='ocr_page' id='page_1' title='image \"p{page_num}.png\"; "
        f"bbox 0 0 {width} {height}; ppageno 0'>\n"
        "   <div class='ocr_carea' id='block_1'>\n"
        "    <p class='ocr_par' id='par_1'>\n"
        + "\n".join(lines)
        + "\n    </p>\n   </div>\n  </div>\n </body>\n</html>\n"
    )


def _write_archive(path: str, members: list[tuple[str, bytes]]) -> None:
    """A tar.gz whose bytes depend only on ``members``."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size, info.mtime, info.mode = len(data), 0, 0o644
            tf.addfile(info, io.BytesIO(data))
    with open(path, "wb") as f, gzip.GzipFile(
        filename="", mode="wb", fileobj=f, mtime=0, compresslevel=6
    ) as gz:
        gz.write(buf.getvalue())


def _manifest_html(rows: list[tuple[str, str, str, str, str]]) -> str:
    body = "\n".join(
        "    <tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>" for r in rows
    )
    return (
        "<!DOCTYPE html>\n<html>\n<head><title>City Directories</title></head>\n"
        "<body>\n<table>\n  <thead>\n"
        "    <tr><th>uuid</th><th>year</th><th>startPage</th><th>endPage</th>"
        "<th>columnCount</th></tr>\n"
        f"  </thead>\n  <tbody>\n{body}\n  </tbody>\n</table>\n</body>\n</html>\n"
    )


def _year(rng: random.Random, lo: int, hi: int) -> tuple[str, str]:
    """(manifest year cell, object-id year part): ``1850`` or ``1850/51``."""
    y = rng.randint(lo, hi)
    if rng.random() < 1 / 3:
        return f"{y}/{(y + 1) % 100:02d}", f"{y}-{y + 1}"
    return str(y), str(y)


def generate(out: str, shape: Shape, seed: int) -> dict:
    """Write archives and manifest under ``out``; return the ledger."""
    rng = random.Random(f"etl:{seed}")
    archives = os.path.join(out, "archives")
    os.makedirs(archives)

    manifest_rows = []
    entries: list[tuple[str, list[str]]] = []
    # in-window directories, one outside the year window (downloaded,
    # never parsed), one listed without an archive, one with a blank cell
    kinds = ["in"] * shape.dirs + ["late", "missing", "blank"]
    rng.shuffle(kinds)
    # the in-window directories take 2, 3 and 4 columns in turn, so every
    # seed's pages hold the same number of entries
    in_columns = [2 + i % 3 for i in range(shape.dirs)]
    rng.shuffle(in_columns)
    for kind in kinds:
        uid = _uuid(rng)
        k = in_columns.pop() if kind == "in" else rng.randint(2, 4)
        first = rng.randint(5, 400)
        last = first + shape.pages - 1
        if kind == "late":
            year_cell, year_part = _year(rng, MAX_YEAR + 1, MAX_YEAR + 10)
        else:
            year_cell, year_part = _year(rng, MIN_YEAR, MAX_YEAR - 10)
        start = "" if kind == "blank" else str(first + 1)
        manifest_rows.append((uid, year_cell, start, str(last - 1), str(k)))
        if kind not in ("in", "late"):
            continue
        members = []
        for p in range(first, last + 1):
            sink = entries if kind == "in" and first < p < last else []
            hocr = _page(rng, p, k, shape.rows, year_part, sink)
            image_id = rng.randrange(10**7, 10**8)
            members.append((f"{p}.{image_id}.{_uuid(rng)}.processed.hocr", hocr.encode()))
        _write_archive(os.path.join(archives, f"{uid}.tar.gz"), members)

    with open(os.path.join(out, "manifest.html"), "w", encoding="utf-8") as f:
        f.write(_manifest_html(manifest_rows))

    locs = [v for _, vs in entries for v in vs]
    relations = logs = 0
    for v in locs:
        if " c " in v:  # a corner geocodes to its first street, if known
            logs += v.split(" c ")[0] not in STREETS
        else:
            n, street = v.split(" ", 1)
            found = _house_found(int(n), street)
            relations += found
            logs += not found
    return {
        "download": sum(1 for r in manifest_rows if r[2]),
        "parse": len(entries),
        "geocode": len(locs),
        "transform": len(entries),
        "relations": relations,
        "logs": logs,
        "object_ids": sorted(e[0] for e in entries),
    }


def inputs(cache: str, shape_name: str, seed: int) -> Inputs:
    """Inputs for (shape, seed), generated into ``cache`` on first use."""
    shape = SHAPES[shape_name]
    # the dimensions are in the name, so a changed shape is generated anew
    root = os.path.join(cache, f"{shape_name}-{shape.dirs}x{shape.pages}x{shape.rows}-{seed}")
    ledger_path = os.path.join(root, "ledger.json")
    if not os.path.exists(ledger_path):
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        ledger = generate(tmp, shape, seed)
        with open(os.path.join(tmp, "ledger.json"), "w", encoding="utf-8") as f:
            json.dump(ledger, f)
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
    with open(ledger_path, encoding="utf-8") as f:
        ledger = json.load(f)
    return Inputs(
        root=root,
        manifest=os.path.join(root, "manifest.html"),
        archives=os.path.join(root, "archives"),
        ledger=ledger,
    )
