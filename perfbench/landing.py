"""Seeded generator of a reference-shaped GeoJSON landing, and the exact
output it must produce.

The landing has the four inputs of ``plans.pipeline.transform``:
consolidated building features, toponym points, map sheets (JSONL,
one feature per line with a ``_seq`` file-order column) and the
layer-boroughs array. Every trap of the unit-test fixture appears at
scale: duplicate building ids (keep-first), a degenerate first copy
that suppresses its valid duplicate, courtyard polygons with holes,
overlapping polygons, a layer missing from layer-boroughs, a layer
with sheets and toponyms but no polygons, and toponyms repeating an
earlier toponym's coordinates on the same sheet.

Geometry is laid out on a per-layer grid of square cells, so the
generator knows which buildings contain each toponym without running
a point-in-polygon test: a building fills a cell with an optional
central hole, an overlapping building covers the cell's lower-left
corner, and toponyms sit at fixed offsets well inside or outside
those squares. The expected output (``Expected``) is derived from that
construction, not from the pipeline under test.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field

CELL = 0.001  # degrees; cells are ~100 m squares
B62 = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
N_LAYERS = 8
SHEETS_PER_LAYER = 3
NO_BOROUGH_LAYER = 2  # index of the layer missing from layer-boroughs
NO_POLYGON_LAYER = 5  # index of the layer whose sheets carry no buildings
BOROUGHS = ["Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island"]
NAMES = ["Tavern", "Church", "Mill", "Wharf", "Market", "School", "Hall", "Yard"]

LOG_BOROUGH = "Can't find borough for layer "
LOG_NO_BUILDING = "Can't find building for toponym "
LOG_NO_INDEX = "Error computing intersection for toponym "


def js_num(x: float) -> str:
    """JS String(number) for the coordinate range the generator uses."""
    return str(int(x)) if float(x).is_integer() else repr(float(x))


def base62(n: int) -> str:
    if n == 0:
        return "0"
    out = []
    while n:
        n, r = divmod(n, 62)
        out.append(B62[r])
    return "".join(reversed(out))


def toponym_id(sheet_id: int, coords: list[float]) -> str:
    digest = hashlib.md5(",".join(js_num(c) for c in coords).encode()).hexdigest()
    return f"toponym-{sheet_id}-{base62(int(digest, 16))}"


@dataclass
class Expected:
    """What ``transform`` + ``write_ndjson`` must emit for a landing."""

    objects: Counter = field(default_factory=Counter)  # (type, geom) -> n
    object_ids: set = field(default_factory=set)  # (type, geom, id)
    st_in: int = 0
    same_as: set = field(default_factory=set)  # (toponym id, building id)
    logs: Counter = field(default_factory=Counter)  # exact messages

    def log_kinds(self) -> Counter:
        return log_kinds(self.logs)


LOG_KINDS = {"borough": LOG_BOROUGH, "no_building": LOG_NO_BUILDING,
             "no_index": LOG_NO_INDEX}


def log_kinds(logs: Counter) -> Counter:
    kinds: Counter = Counter()
    for msg, n in logs.items():
        kind = next((k for k, p in LOG_KINDS.items() if msg.startswith(p)), msg)
        kinds[kind] += n
    return kinds


@dataclass
class Landing:
    consolidated: list[str]
    toponyms: list[str]
    sheets: list[str]
    layer_boroughs: str
    expected: Expected

    def write(self, out_dir: str) -> dict[str, str]:
        os.makedirs(out_dir, exist_ok=True)
        paths = {}
        for name, lines in (
            ("consolidated", self.consolidated),
            ("toponyms", self.toponyms),
            ("sheets", self.sheets),
        ):
            paths[name] = os.path.join(out_dir, f"{name}.jsonl")
            with open(paths[name], "w") as f:
                f.write("".join(ln + "\n" for ln in lines))
        paths["layer_boroughs"] = os.path.join(out_dir, "layer-boroughs.json")
        with open(paths["layer_boroughs"], "w") as f:
            f.write(self.layer_boroughs)
        return paths


def _square(x0: float, y0: float, lo: float, hi: float) -> list:
    a, b = x0 + lo * CELL, x0 + hi * CELL
    c, d = y0 + lo * CELL, y0 + hi * CELL
    return [[round(a, 7), round(c, 7)], [round(b, 7), round(c, 7)],
            [round(b, 7), round(d, 7)], [round(a, 7), round(d, 7)],
            [round(a, 7), round(c, 7)]]


def _point(x0: float, y0: float, fx: float, fy: float) -> list[float]:
    return [round(x0 + fx * CELL, 7), round(y0 + fy * CELL, 7)]


def _dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"))


def make_landing(seed: int, n_buildings: int, n_toponyms: int) -> Landing:
    """A landing of about ``n_buildings`` consolidated features and
    ``n_toponyms`` toponyms; the same seed gives the same bytes."""
    rng = random.Random(seed)
    layer_ids = [1000 + 7 * k + rng.randrange(7) for k in range(N_LAYERS)]
    years = [1850 + 5 * k + rng.randrange(5) for k in range(N_LAYERS)]
    borough = {
        lid: rng.choice(BOROUGHS)
        for k, lid in enumerate(layer_ids)
        if k != NO_BOROUGH_LAYER
    }
    sheets = []  # (sheet_id, layer index, map_id)
    for k, lid in enumerate(layer_ids):
        for s in range(SHEETS_PER_LAYER):
            sheets.append((100 * (k + 1) + s, k, 5000 + 10 * k + s))
    sheet_lines = [
        _dumps({"type": "Feature", "properties": {
            "id": sid, "map_id": str(mid),
            # a decimal year on some sheets exercises the split on '.'
            "layer": {"external_id": layer_ids[k],
                      "year": f"{years[k]}.0" if sid % 2 else str(years[k])}}})
        for sid, k, mid in sheets
    ]
    poly_layers = [k for k in range(N_LAYERS) if k != NO_POLYGON_LAYER]
    grid = max(4, int((2 * n_buildings / len(poly_layers)) ** 0.5) + 1)
    origin = {k: (-74.25 + 0.05 * k, 40.5 + 0.03 * k) for k in range(N_LAYERS)}

    exp = Expected()
    # building registry: cell -> list of (building id, kind) where kind
    # is "full" (cell square, maybe holed) or "corner" (overlap square)
    valid: dict[tuple[int, int, int], list[tuple[int, str, bool]]] = {}
    cons_lines: list[str] = []
    seq = 0
    next_id = 1
    free_cells = [(k, i, j) for k in poly_layers for i in range(grid) for j in range(grid)]
    rng.shuffle(free_cells)
    emitted: list[dict] = []  # kept-first features, for later duplicates

    def emit(feat: dict) -> None:
        nonlocal seq
        cons_lines.append(_dumps({"_seq": seq, **feat}))
        seq += 1

    while len(cons_lines) < n_buildings and free_cells:
        roll = rng.random()
        if emitted and roll < 0.04:
            # plain duplicate of a kept id (another map_id): dropped
            dup = dict(rng.choice(emitted))
            dup = {**dup, "properties": {**dup["properties"], "map_id": "9999"}}
            emit(dup)
            continue
        k, i, j = free_cells.pop()
        x0, y0 = origin[k][0] + i * CELL, origin[k][1] + j * CELL
        sid, _, mid = sheets[k * SHEETS_PER_LAYER + rng.randrange(SHEETS_PER_LAYER)]
        bid = next_id
        next_id += 1
        holed = rng.random() < 0.15
        rings = [_square(x0, y0, 0.1, 0.9)]
        if holed:
            rings.append(_square(x0, y0, 0.4, 0.6))
        n_addr = rng.choice([0, 0, 1, 2, 3])
        addrs = [str(rng.randrange(1, 400)) for _ in range(n_addr)]
        # one address of a multi-address building has no point
        n_pts = n_addr - 1 if n_addr >= 2 and rng.random() < 0.2 else n_addr
        geoms = [{"type": "Polygon", "coordinates": rings}]
        geoms += [
            {"type": "Point", "coordinates": _point(x0, y0, 0.3 + 0.1 * a, 0.8)}
            for a in range(n_pts)
        ]
        props = {"id": bid, "map_id": str(mid), "sheet_id": sid,
                 "consensus_address": [{"flag_value": a} for a in addrs] if addrs else "NONE"}
        if rng.random() < 0.5:
            props["consensus_color"] = rng.choice(["pink,yellow", "blue", "red,green"])
        feat = {"type": "Feature", "properties": props,
                "geometry": {"type": "GeometryCollection", "geometries": geoms}}
        degenerate_first = rng.random() < 0.03
        if degenerate_first:
            # the first copy is degenerate, so the id is suppressed and
            # the valid copy emitted later never re-enters
            bad = [[[x0, y0], [round(x0 + CELL / 2, 7), y0], [x0, y0]]]
            emit({**feat, "geometry": {"type": "GeometryCollection",
                                       "geometries": [{"type": "Polygon", "coordinates": bad}]}})
            emit(feat)
            continue
        emit(feat)
        emitted.append(feat)
        valid.setdefault((k, i, j), []).append((bid, "full", holed))
        layer_id = layer_ids[k]
        exp.objects[("st:Building", "Polygon")] += 1
        exp.object_ids.add(("st:Building", "Polygon", str(bid)))
        exp.st_in += 2
        if layer_id not in borough:
            exp.logs[f"{LOG_BOROUGH}{layer_id}"] += 1
        for a in range(n_addr):
            exp.objects[("st:Address", "Point" if a < n_pts else None)] += 1
            exp.object_ids.add(("st:Address", "Point" if a < n_pts else None, f"{bid}-{a + 1}"))
            exp.st_in += 1
        if rng.random() < 0.1 and len(cons_lines) < n_buildings:
            # overlapping building over the cell's lower-left corner
            oid = next_id
            next_id += 1
            ofeat = {"type": "Feature",
                     "properties": {"id": oid, "map_id": str(mid), "sheet_id": sid,
                                    "consensus_address": "NONE"},
                     "geometry": {"type": "GeometryCollection", "geometries": [
                         {"type": "Polygon", "coordinates": [_square(x0, y0, 0.15, 0.35)]}]}}
            emit(ofeat)
            emitted.append(ofeat)
            valid[(k, i, j)].append((oid, "corner", False))
            exp.objects[("st:Building", "Polygon")] += 1
            exp.object_ids.add(("st:Building", "Polygon", str(oid)))
            exp.st_in += 2
            if layer_id not in borough:
                exp.logs[f"{LOG_BOROUGH}{layer_id}"] += 1

    # toponyms: body (inside the cell square, outside any hole, inside a
    # corner overlap if the cell has one), hole (centre), a cell with no
    # kept building (empty, or holding a suppressed degenerate id), and
    # the no-polygon layer
    top_lines: list[str] = []
    seen_ids: set = set()
    placed: list[tuple[int, list[float], int]] = []  # (sheet, coords, k)
    cells = sorted(valid)
    empty = [(k, i, j) for k in poly_layers for i in range(grid)
             for j in range(grid) if (k, i, j) not in valid]
    layer_has_index = {k for (k, _, _) in valid}
    while len(top_lines) < n_toponyms:
        roll = rng.random()
        matches: list[int] = []
        if placed and roll < 0.05:
            # same sheet + same coordinates as an earlier toponym
            sid, pt, k = rng.choice(placed)
        elif roll < 0.08:
            k = NO_POLYGON_LAYER
            x0, y0 = origin[k]
            pt = _point(x0, y0, rng.randrange(1000) + 0.5, rng.randrange(1000) + 0.5)
            sid = sheets[k * SHEETS_PER_LAYER + rng.randrange(SHEETS_PER_LAYER)][0]
        elif roll < 0.18 and empty:
            k, i, j = rng.choice(empty)
            x0, y0 = origin[k][0] + i * CELL, origin[k][1] + j * CELL
            pt = _point(x0, y0, 0.5, 0.5)
            sid = sheets[k * SHEETS_PER_LAYER + rng.randrange(SHEETS_PER_LAYER)][0]
        else:
            k, i, j = rng.choice(cells)
            x0, y0 = origin[k][0] + i * CELL, origin[k][1] + j * CELL
            blds = valid[(k, i, j)]
            if roll < 0.30:
                fx, fy = 0.5, 0.5  # the hole's centre, or the square's
                matches = [b for b, kind, holed in blds if kind == "full" and not holed]
            elif roll < 0.40:
                fx, fy = 0.25, 0.25  # inside the corner overlap, if any
                matches = [b for b, _, _ in blds]
            else:
                fx, fy = 0.75, 0.25  # ring body, outside hole and corner
                matches = [b for b, kind, _ in blds if kind == "full"]
            pt = _point(x0, y0, fx + rng.randrange(3) * 0.01, fy)
            sid = sheets[k * SHEETS_PER_LAYER + rng.randrange(SHEETS_PER_LAYER)][0]
        tid = toponym_id(sid, pt)
        top_lines.append(_dumps({
            "_seq": len(top_lines), "type": "Feature",
            "properties": {"sheet_id": sid, "consensus": rng.choice(NAMES)},
            "geometry": {"type": "Point", "coordinates": pt}}))
        if tid in seen_ids:
            continue  # keep-first on the content-addressed id
        seen_ids.add(tid)
        placed.append((sid, pt, k))
        layer_id = layer_ids[k]
        exp.objects[("st:Building", "Point")] += 1
        exp.object_ids.add(("st:Building", "Point", tid))
        exp.st_in += 2
        if layer_id not in borough:
            exp.logs[f"{LOG_BOROUGH}{layer_id}"] += 1
        if matches:
            exp.same_as.update((tid, str(b)) for b in matches)
        elif k in layer_has_index:
            exp.logs[f"{LOG_NO_BUILDING}{tid}"] += 1
        else:
            exp.logs[f"{LOG_NO_INDEX}{tid}"] += 1

    boroughs_json = _dumps([{"id": lid, "borough": b} for lid, b in borough.items()])
    return Landing(cons_lines, top_lines, sheet_lines, boroughs_json, exp)


def read_output(out_dir: str) -> Expected:
    """Summarise the NDJSON written by ``write_ndjson`` in the same
    terms as ``Expected``."""
    got = Expected()
    for root, _, files in os.walk(out_dir):
        for name in files:
            if name.startswith((".", "_")):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    rec = json.loads(line)
                    obj = rec["obj"]
                    if rec["type"] == "object":
                        geom = obj.get("geometry", {}).get("type")
                        got.objects[(obj["type"], geom)] += 1
                        got.object_ids.add((obj["type"], geom, obj["id"]))
                    elif rec["type"] == "relation":
                        if obj["type"] == "st:sameAs":
                            got.same_as.add((obj["from"], obj["to"]))
                        else:
                            got.st_in += 1
                    else:
                        got.logs[obj["error"]] += 1
    return got


def diff(expected: Expected, got: Expected) -> list[str]:
    """Human-readable mismatches; empty when the output is exact."""
    out = []
    if got.objects != expected.objects:
        out.append(f"objects {dict(got.objects)} != {dict(expected.objects)}")
    if got.object_ids != expected.object_ids:
        out.append(f"object ids differ: {len(got.object_ids ^ expected.object_ids)}")
    if got.st_in != expected.st_in:
        out.append(f"st:in relations {got.st_in} != {expected.st_in}")
    if got.same_as != expected.same_as:
        out.append(
            f"st:sameAs pairs: {len(got.same_as - expected.same_as)} extra, "
            f"{len(expected.same_as - got.same_as)} missing"
        )
    if got.logs != expected.logs:
        out.append(f"logs {dict(got.log_kinds())} != {dict(expected.log_kinds())}")
    return out
