#!/usr/bin/env python3
"""Generates the FlatGeobuf fixture src/test/resources/fgb/roads.fgb.

Written from the public FlatGeobuf spec (flatgeobuf.org: header.fbs,
feature.fbs, packed R-tree) with struct only, sharing no code with the
Scala reader or writer in src/main/scala/graft/sources/FlatGeobuf.scala.

Closed-form content (the q_src_fgb and q_read_meta oracles restate it):
  header : name 'roads', geometry_type LineString, no Z/M, envelope,
           one column 'kind' (String), features_count 64,
           index_node_size 16, crs {org 'EPSG', code 3857,
           name 'WGS 84 / Pseudo-Mercator'}
  feature i (0 <= i < 64, stored in this order):
           kind = NULL (no properties) when i % 11 == 0,
                  else KINDS[i % 6]
           LINESTRING with 2 + i % 4 vertices j = 0, 1, ...:
             x = 545000.25 + 100 * (i % 8) + 10 * j
             y = 6867000.75 + 100 * (i // 8) + 5 * (j % 2)
  index  : packed R-tree over the features' bboxes in storage order
           (row-major over an 8 x 8 grid rather than Hilbert order);
           leaf offsets are byte offsets into the feature section.
Run once; the .fgb is committed.
"""
import os, struct

OUT = os.path.join(os.path.dirname(__file__), "..", "src", "test", "resources", "fgb", "roads.fgb")
N = 64
NODE_SIZE = 16
KINDS = ["motorway", "primary", "secondary", "tertiary", "residential", "service"]
LINESTRING = 2
COL_STRING = 11


def feature_spec(i):
    kind = None if i % 11 == 0 else KINDS[i % 6]
    pts = [(545000.25 + 100 * (i % 8) + 10 * j, 6867000.75 + 100 * (i // 8) + 5 * (j % 2))
           for j in range(2 + i % 4)]
    return kind, pts


# ---- minimal forward flatbuffer encoder --------------------------------
# A table is a list of (slot, kind, value) with kind one of
# 'u8' 'u16' 'i32' 'u64' (inline scalars), 'str', 'f64vec', 'u8vec',
# 'table' (nested field list) or 'tablevec' (list of field lists).
# Layout: root uoffset, then each table as [vtable][table], then the
# objects it references, depth first; every uoffset points forward.
SCALAR = {"u8": ("<B", 1), "u16": ("<H", 2), "i32": ("<i", 4), "u64": ("<Q", 8)}


class Encoder:
    def __init__(self):
        self.buf = bytearray()

    def pad(self, n, extra=0):
        while (len(self.buf) + extra) % n:
            self.buf += b"\x00"

    def patch(self, at, target):
        struct.pack_into("<I", self.buf, at, target - at)

    def table(self, fields):
        fields = sorted(fields, key=lambda f: f[0])
        # inline layout after the 4-byte soffset, each field aligned to
        # its size (the table start is 8-aligned)
        layout, off = [], 4
        for slot, kind, value in fields:
            size = SCALAR[kind][1] if kind in SCALAR else 4
            off += (-off) % size
            layout.append((slot, kind, value, off))
            off += size
        tsize = off + (-off) % 4
        nslots = max(f[0] for f in fields) + 1
        self.pad(2)
        vt = len(self.buf)
        slots = [0] * nslots
        for slot, _, _, o in layout:
            slots[slot] = o
        self.buf += struct.pack("<%dH" % (2 + nslots), 4 + 2 * nslots, tsize, *slots)
        self.pad(8)
        t = len(self.buf)
        self.buf += b"\x00" * tsize
        struct.pack_into("<i", self.buf, t, t - vt)
        refs = []
        for slot, kind, value, o in layout:
            if kind in SCALAR:
                struct.pack_into(SCALAR[kind][0], self.buf, t + o, value)
            else:
                refs.append((t + o, kind, value))
        for at, kind, value in refs:
            self.patch(at, self.obj(kind, value))
        return t

    def obj(self, kind, value):
        if kind == "table":
            return self.table(value)
        if kind == "str":
            raw = value.encode("utf-8")
            self.pad(4)
            p = len(self.buf)
            self.buf += struct.pack("<I", len(raw)) + raw + b"\x00"
            return p
        if kind == "f64vec":
            self.pad(8, 4)  # the doubles after the length are 8-aligned
            p = len(self.buf)
            self.buf += struct.pack("<I%dd" % len(value), len(value), *value)
            return p
        if kind == "u8vec":
            self.pad(4)
            p = len(self.buf)
            self.buf += struct.pack("<I", len(value)) + bytes(value)
            return p
        if kind == "tablevec":
            self.pad(4)
            p = len(self.buf)
            self.buf += struct.pack("<I", len(value)) + b"\x00" * (4 * len(value))
            for k, fields in enumerate(value):
                self.patch(p + 4 + 4 * k, self.table(fields))
            return p
        raise ValueError(kind)


def finish(fields):
    e = Encoder()
    e.buf += b"\x00" * 8  # root uoffset + pad so the root table is 8-aligned
    e.patch(0, e.table(fields))
    return bytes(e.buf)


def feature_bytes(kind, pts):
    geom = [(1, "f64vec", [c for p in pts for c in p])]
    fields = [(0, "table", geom)]
    if kind is not None:
        raw = kind.encode("utf-8")
        fields.append((1, "u8vec", struct.pack("<HI", 0, len(raw)) + raw))
    return finish(fields)


def bbox(pts):
    xs, ys = [p[0] for p in pts], [p[1] for p in pts]
    return (min(xs), min(ys), max(xs), max(ys))


def packed_rtree(leaves):
    """leaves: [(minx, miny, maxx, maxy, feature offset)] in storage
    order. Returns the node array root level first, leaves last; an
    internal node's offset is the index of its first child node."""
    levels = [leaves]
    while len(levels[-1]) > 1:
        below = levels[-1]
        levels.append([(min(n[0] for n in below[k:k + NODE_SIZE]),
                        min(n[1] for n in below[k:k + NODE_SIZE]),
                        max(n[2] for n in below[k:k + NODE_SIZE]),
                        max(n[3] for n in below[k:k + NODE_SIZE]), k)
                       for k in range(0, len(below), NODE_SIZE)])
    # node index of each level's first node, root level at 0
    starts, acc = {}, 0
    for lv in reversed(range(len(levels))):
        starts[lv] = acc
        acc += len(levels[lv])
    out = bytearray()
    for lv in reversed(range(len(levels))):
        for n in levels[lv]:
            off = n[4] if lv == 0 else starts[lv - 1] + n[4]
            out += struct.pack("<4dQ", n[0], n[1], n[2], n[3], off)
    return bytes(out)


def main():
    specs = [feature_spec(i) for i in range(N)]
    feats, leaves, offset = [], [], 0
    for kind, pts in specs:
        fb = feature_bytes(kind, pts)
        feats.append(struct.pack("<I", len(fb)) + fb)
        leaves.append(bbox(pts) + (offset,))
        offset += 4 + len(fb)
    env = (min(l[0] for l in leaves), min(l[1] for l in leaves),
           max(l[2] for l in leaves), max(l[3] for l in leaves))
    header = finish([
        (0, "str", "roads"),
        (1, "f64vec", list(env)),
        (2, "u8", LINESTRING),
        (7, "tablevec", [[(0, "str", "kind"), (1, "u8", COL_STRING)]]),
        (8, "u64", N),
        (9, "u16", NODE_SIZE),
        (10, "table", [(0, "str", "EPSG"), (1, "i32", 3857),
                       (2, "str", "WGS 84 / Pseudo-Mercator")]),
    ])
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "wb") as f:
        f.write(b"fgb\x03fgb\x00" + struct.pack("<I", len(header)) + header)
        f.write(packed_rtree(leaves))
        f.write(b"".join(feats))
    print("wrote", OUT, N, "features")


if __name__ == "__main__":
    main()
