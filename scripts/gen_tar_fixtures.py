#!/usr/bin/env python3
"""Regenerate the tar-shard test fixtures under src/test/resources/tar/.

Every shard is written by Python's own `tarfile` module, so the specs
check graft's tar reader against an archiver graft did not write. Every
header field that could vary is fixed (mtime, uid, gid, mode, empty
uname/gname), so the files are byte-reproducible.

- tar/shard-{0,1,2}.tar (USTAR): several files; 0-, 511-, 512- and
  513-byte payloads; a full 100-byte name (no NUL terminator); a
  multi-byte UTF-8 name; WebDataset `<key>.json`/`<key>.txt` pairs; and a
  directory entry and a symlink, which a reader must skip.
- tar/prefix/shard-0.tar (USTAR): a path longer than 100 bytes, which
  USTAR stores split across the `prefix` (bytes 345-499) and `name`
  fields; a reader must join them as `prefix/name`.
- tar/pax/shard-0.tar (PAX, tarfile's default format): a global 'g'
  header (as `git archive` writes); a non-ASCII name and a 120-byte name,
  each stored as a typeflag 'x' extended header whose `path` key names
  the next entry (that entry's own ustar name is lossy or cut); and a
  float mtime, which `tarfile` writes as an 'x' header with only an
  `mtime` key (as for every file added from disk). A reader must return
  every name exactly.
- tar/pax_size/shard-0.tar (PAX): an 'x' header carrying a `size` key,
  which overrides the payload length; a reader that does not honour it
  must refuse the shard.
- tar/gnu/shard-0.tar (GNU): a long name stored as a typeflag 'L'
  entry, which a ustar reader must refuse rather than return a cut name.

Beside the readable shards, `manifest.tsv` lists every regular file the
reader must return as (shard_file, name, size, sha256 of payload). It is
built from this script's own inputs, not by reading the archives back.

Run from the repo root: python3 scripts/gen_tar_fixtures.py
"""
import hashlib
import io
import os
import shutil
import tarfile

RES = os.path.join(os.path.dirname(__file__), "..", "src", "test",
                   "resources", "tar")
MTIME = 1700000000


def patterned(n):
    return bytes(i % 251 for i in range(n))


def file_info(name, payload):
    ti = tarfile.TarInfo(name)
    ti.size = len(payload)
    ti.mtime, ti.mode, ti.uid, ti.gid = MTIME, 0o644, 0, 0
    ti.uname = ti.gname = ""
    return ti


def other_info(name, kind, linkname=""):
    ti = tarfile.TarInfo(name)
    ti.type, ti.linkname = kind, linkname
    ti.mtime, ti.uid, ti.gid = MTIME, 0, 0
    ti.mode = 0o755 if kind == tarfile.DIRTYPE else 0o777
    ti.uname = ti.gname = ""
    return ti


def write_shard(path, entries, fmt, global_headers=None):
    """entries: (name, payload) or (name, payload, {TarInfo attr: value})
    for a regular file, or a ready TarInfo for anything else. Returns the
    manifest rows of the regular files."""
    rows = []
    with tarfile.open(path, "w", format=fmt, encoding="utf-8",
                      pax_headers=global_headers) as tf:
        for e in entries:
            if isinstance(e, tarfile.TarInfo):
                tf.addfile(e)
                continue
            name, payload = e[:2]
            ti = file_info(name, payload)
            for k, v in (e[2] if len(e) > 2 else {}).items():
                setattr(ti, k, v)
            tf.addfile(ti, io.BytesIO(payload))
            rows.append((os.path.basename(path), name, len(payload),
                         hashlib.sha256(payload).hexdigest()))
    return rows


def write_manifest(d, rows):
    with open(os.path.join(d, "manifest.tsv"), "w", encoding="utf-8",
              newline="\n") as f:
        f.write("shard_file\tname\tsize\tsha256\n")
        for r in rows:
            f.write("\t".join(str(v) for v in r) + "\n")


def fresh_dir(d):
    if os.path.isdir(d):
        shutil.rmtree(d)
    os.makedirs(d)
    return d


def gen_main():
    d = fresh_dir(RES)
    full100 = "d/" + "x" * 94 + ".txt"
    assert len(full100.encode("utf-8")) == 100
    utf8 = "café-ü-日本.txt"
    shard0 = [
        other_info("d/", tarfile.DIRTYPE),
        ("empty.bin", b""),
        ("p511.bin", patterned(511)),
        ("p512.bin", patterned(512)),
        ("p513.bin", patterned(513)),
        (full100, b"full-width name"),
        other_info("link.txt", tarfile.SYMTYPE, linkname="p512.bin"),
        (utf8, "café ✓".encode("utf-8")),
    ]
    shard1 = []
    for k in range(1, 6):
        key = f"{k:06d}"
        shard1.append((f"{key}.json",
                       f'{{"key": "{key}", "lang": "en"}}'.encode("utf-8")))
        shard1.append((f"{key}.txt", f"sample {k} {'w' * k}".encode("utf-8")))
    shard2 = [
        ("all-bytes.bin", bytes(range(256))),
        ("nul·inside.bin", b"beta\x00bytes"),
        ("one.txt", b"1"),
    ]
    rows = []
    for i, entries in enumerate([shard0, shard1, shard2]):
        rows += write_shard(os.path.join(d, f"shard-{i}.tar"), entries,
                            tarfile.USTAR_FORMAT)
    write_manifest(d, rows)
    print(f"wrote {d}: 3 shards, {len(rows)} files")


def gen_prefix():
    d = fresh_dir(os.path.join(RES, "prefix"))
    long_name = "a" * 60 + "/" + "b" * 60 + "/" + "c" * 50 + ".txt"
    assert len(long_name) > 100
    rows = write_shard(os.path.join(d, "shard-0.tar"), [
        (long_name, b"split across prefix and name"),
        ("short.txt", b"fits the name field"),
    ], tarfile.USTAR_FORMAT)
    write_manifest(d, rows)
    print(f"wrote {d}: {len(rows)} files")


def gen_pax():
    d = fresh_dir(os.path.join(RES, "pax"))
    long_name = "p" * 116 + ".txt"
    rows = write_shard(os.path.join(d, "shard-0.tar"), [
        ("café.txt", b"pax-named"),
        (long_name, b"pax path longer than the name field"),
        ("float-mtime.txt", b"only an mtime record", {"mtime": MTIME + 0.5}),
        ("plain.txt", b"no extended header"),
    ], tarfile.PAX_FORMAT, global_headers={"comment": "global header"})
    write_manifest(d, rows)
    print(f"wrote {d}: {len(rows)} files")


def gen_refused():
    d = fresh_dir(os.path.join(RES, "pax_size"))
    write_shard(os.path.join(d, "shard-0.tar"), [
        ("sized.txt", b"12", {"pax_headers": {"size": "2"}}),
    ], tarfile.PAX_FORMAT)
    print(f"wrote {d}")
    d = fresh_dir(os.path.join(RES, "gnu"))
    write_shard(os.path.join(d, "shard-0.tar"),
                [("g" * 120 + ".txt", b"gnu-long-named")], tarfile.GNU_FORMAT)
    print(f"wrote {d}")


if __name__ == "__main__":
    gen_main()
    gen_prefix()
    gen_pax()
    gen_refused()
