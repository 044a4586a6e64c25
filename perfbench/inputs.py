"""Seeded benchmark inputs, generated outside every timed region.

- catalog tables: `tools/gen_scale_data.py 0.1 <dir> --seed S`, cached
  per seed, and the same at 0.01 for the catalog's warm-up. The
  generator copies `region` and `nation` from a reference directory;
  the benchmark writes those two fixed TPC-H dimensions itself, so it
  needs no data outside the checkout.
- pipeline payloads: XML name documents and ~1 KB Confluent-wire Avro
  records, derived from the seed.
- stream key mapping: the seed salts the event-id -> key hash and the
  key -> category dimension.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, "perfbench", ".work")
SF = "0.1"
WARM_SF = "0.01"  # the catalog queries' untimed warm-up runs on tables this size

_NAMES = [
    "Adam", "Albert", "Alex", "Bart", "Bohdan", "Boris", "Carl", "Celine",
    "Dana", "Edward", "Emil", "Filip", "Greta", "Hana", "Igor", "Jan",
    "Karel", "Lena", "Marek", "Nora", "Otto", "Petra", "Rita", "Sven",
    "Tomas", "Ula", "Viktor", "Wojtek", "Beata", "Bruno", "Olga", "Ivo",
]

AVRO_V1 = {
    "type": "record", "name": "User", "fields": [
        {"name": "id", "type": "long"},
        {"name": "first_name", "type": "bytes"},
        {"name": "last_name", "type": "bytes"},
        {"name": "Phone", "type": ["null", "int"]},
        {"name": "notes", "type": "bytes"},
    ],
}
AVRO_V2 = {
    "type": "record", "name": "User", "fields": [
        {"name": "Id", "type": "long", "aliases": ["id"]},
        {"name": "FirstName", "type": "string", "aliases": ["first_name"]},
        {"name": "LastName", "type": "string", "aliases": ["last_name"]},
        {"name": "Phone", "type": ["null", "int"], "default": None},
        {"name": "Notes", "type": "string", "aliases": ["notes"]},
        {"name": "Region", "type": "string", "default": "EU"},
    ],
}
AVRO_V1_ID = 100  # writer schema id under registry 1


def repo_ok() -> bool:
    return (os.path.isdir(os.path.join(REPO, "goconnect_spark"))
            and os.path.isfile(os.path.join(REPO, "tools", "gen_scale_data.py")))


def _atomic_dir(final: str, build) -> str:
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


def _write_dims(out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), os.path.join(out, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(out, "nation.parquet"))


def tables(seed: int, sf: str = SF) -> str:
    """Catalog tables at scale `sf` for `seed` (generated once per seed)."""
    dims = _atomic_dir(os.path.join(WORK, "dims"), _write_dims)

    def build(tmp):
        code = (
            "import sys; sys.path.insert(0, sys.argv[1]); import gen_scale_data as g; "
            "g.REF = sys.argv[2]; sys.argv = ['gen_scale_data'] + sys.argv[3:]; g.main()"
        )
        subprocess.run(
            [sys.executable, "-c", code, os.path.join(REPO, "tools"), dims, sf, tmp,
             "--seed", str(seed)],
            check=True, stdout=subprocess.DEVNULL,
        )

    return _atomic_dir(os.path.join(WORK, "data", f"sf{sf}_s{seed}"), build)


def xml_names(seed: int) -> list[str]:
    """The round-robin name list: a seeded choice and order of names."""
    rng = np.random.default_rng(seed)
    k = int(rng.integers(20, len(_NAMES) + 1))
    return [_NAMES[i] for i in rng.permutation(len(_NAMES))[:k]]


def xml_docs(names: list[str]) -> list[bytes]:
    return [f"<r><name>{n}</name></r>".encode() for n in names]


def avro_records(seed: int, n: int) -> list[dict]:
    """V1 records, each encoding to roughly 1 KB."""
    rng = np.random.default_rng([seed, 7])
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz ", dtype=np.uint8)
    lens = rng.integers(900, 1000, n)
    out = []
    for i in range(n):
        notes = letters[rng.integers(0, len(letters), lens[i])].tobytes()
        phone = None if rng.random() < 0.2 else int(rng.integers(0, 1 << 30))
        out.append({
            "id": i,
            "first_name": _NAMES[int(rng.integers(len(_NAMES)))].encode(),
            "last_name": f"Surname{int(rng.integers(10_000))}".encode(),
            "Phone": phone,
            "notes": notes,
        })
    return out


def expected_v2(rec: dict) -> dict:
    """Hand-written V1 -> V2 mapping: the oracle for the re-encode chain."""
    return {"Id": rec["id"], "FirstName": rec["first_name"].decode(),
            "LastName": rec["last_name"].decode(), "Phone": rec["Phone"],
            "Notes": rec["notes"].decode(), "Region": "EU"}


def avro_payloads(seed: int, n: int) -> str:
    """Parquet of Kafka-shaped (key, value) rows, value = SR1 wire format."""

    def build(tmp):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from goconnect_spark.functions import avro_py

        header = bytes([0]) + AVRO_V1_ID.to_bytes(4, "big")
        recs = avro_records(seed, n)
        pq.write_table(pa.table({
            "key": pa.array([f"u{r['id']}".encode() for r in recs], pa.binary()),
            "value": pa.array([header + avro_py.encode(r, AVRO_V1) for r in recs],
                              pa.binary()),
        }), os.path.join(tmp, "payloads.parquet"), row_group_size=max(1, n // 8))

    return os.path.join(
        _atomic_dir(os.path.join(WORK, "data", f"avro_s{seed}_n{n}"), build), "payloads.parquet")


def stream_salt(seed: int) -> int:
    return int(np.random.default_rng([seed, 11]).integers(1, 1 << 31))


def stream_dim(seed: int, n_keys: int) -> list[tuple[int, str]]:
    rng = np.random.default_rng([seed, 13])
    return [(k, f"cat{int(c)}") for k, c in enumerate(rng.integers(0, 7, n_keys))]
