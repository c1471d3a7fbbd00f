"""Seeded STAC graph generator for the imports of the API workload.

A graph is flat, like the pipeline's end-to-end spec: one directory holds
`catalog.json`, its collections, their items and one data asset per item,
all linked by relative hrefs. The same seed writes byte-identical files.

`generate` can inject defects at fixed counts:
  checksum  items whose `file:checksum` does not match the asset
  missing   items whose asset file is not written
  dupkey    items with a duplicated JSON key
  schema    collections without the required `license` (the crawl stops
            at the first one, so a graph with a schema defect records
            exactly one schema failure)
and returns the failure counts the pipeline must report for them.
"""
import hashlib
import json
import os
import random

STAC_VERSION = "1.0.0-rc.3"

# validation check names, as the pipeline records them
CHECKS = {
    "checksum": "checksum",
    "missing": "staging bucket access",
    "dupkey": "duplicate asset name",
    "schema": "JSON schema",
}


def multihash(data):
    """sha2-256 multihash, hex: function code 0x12, digest length 0x20."""
    return "1220" + hashlib.sha256(data).hexdigest()


def _dump(obj):
    return json.dumps(obj, separators=(",", ":"), sort_keys=False)


def _write(path, data):
    with open(path, "wb") as f:
        f.write(data)


def generate(root, seed, n_items, asset_bytes, n_collections=1, defects=None):
    """Write one graph under `root` and return its manifest: the metadata
    and data files (basename -> size, data files also with multihash), the
    staged byte total and the expected per-check failure counts."""
    defects = dict(defects or {})
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    items = list(range(n_items))
    picked = {}
    pool = items[:]
    rng.shuffle(pool)
    for kind in ("checksum", "missing", "dupkey"):
        n = defects.get(kind, 0)
        picked[kind], pool = set(pool[:n]), pool[n:]
    schema_bad = set(range(defects.get("schema", 0)))

    files = {}
    data = {}

    def put(name, payload):
        _write(os.path.join(root, name), payload)
        files[name] = len(payload)

    per_col = [items[c::n_collections] for c in range(n_collections)]
    col_names = [f"collection-{c:03d}.json" for c in range(n_collections)]
    put("catalog.json", _dump({
        "type": "Catalog", "stac_version": STAC_VERSION,
        "id": f"catalog-{seed}", "description": f"perfbench catalog seed {seed}",
        "links": [{"href": n, "rel": "child"} for n in col_names] + [
            {"href": "catalog.json", "rel": "root"},
            {"href": "catalog.json", "rel": "self"}],
    }).encode())
    for c, name in enumerate(col_names):
        col = {
            "type": "Collection", "stac_version": STAC_VERSION,
            "id": f"collection-{c}", "description": f"collection {c}",
            "license": "CC-BY-4.0",
            "extent": {"spatial": {"bbox": [[-180, -90, 180, 90]]},
                       "temporal": {"interval": [["2000-01-01T00:00:00Z", None]]}},
            "links": [{"href": f"item-{i:05d}.json", "rel": "item"}
                      for i in per_col[c]] + [
                {"href": "catalog.json", "rel": "root"},
                {"href": name, "rel": "self"}],
        }
        if c in schema_bad:
            del col["license"]
        put(name, _dump(col).encode())
    for i in items:
        payload = rng.randbytes(asset_bytes)
        asset = f"item-{i:05d}.bin"
        mh = multihash(payload)
        if i in picked["checksum"]:
            mh = "1220" + hashlib.sha256(payload + b"!").hexdigest()
        day = 1 + rng.randrange(28)
        doc = _dump({
            "type": "Feature", "stac_version": STAC_VERSION,
            "id": f"item-{i}", "geometry": None,
            "properties": {"datetime": f"2020-01-{day:02d}T00:00:00Z"},
            "assets": {"data": {"href": asset, "file:checksum": mh}},
            "links": [{"href": "catalog.json", "rel": "root"},
                      {"href": f"item-{i:05d}.json", "rel": "self"}],
        })
        if i in picked["dupkey"]:
            doc = doc.replace('"id":', f'"id":"item-{i}","id":', 1)
        put(f"item-{i:05d}.json", doc.encode())
        if i not in picked["missing"]:
            put(asset, payload)
            data[asset] = {"size": len(payload), "multihash": mh}

    expected = {}
    if schema_bad:
        expected[CHECKS["schema"]] = 1
    else:
        for kind in ("checksum", "missing", "dupkey"):
            if picked[kind]:
                expected[CHECKS[kind]] = len(picked[kind])
    metadata = {n: s for n, s in files.items() if n.endswith(".json")}
    return {"metadata": metadata, "data": data,
            "bytes": sum(files.values()), "expected_failures": expected}

