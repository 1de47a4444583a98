"""Seeded Synctech XML backups, the store an import of them must produce,
and the checks an import or an export must pass.

The expected store is computed here in plain Python, straight from the
generator's records: hashes come from `functions.hashing.python_reference_hash`
(the driver-side twin of the Spark hash), ids are assigned in the order the
importer documents (first occurrence wins within a batch, staging order
`2*sms_index` / `2*mms_index+1`, parts numbered by (message_id, part_seq)).
Nothing of the Spark import path runs to build it.
"""

from __future__ import annotations

import base64
import random
import sqlite3
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field
from xml.sax.saxutils import quoteattr

from sms_db_spark import DATABASE_VERSION
from sms_db_spark.functions.hashing import python_reference_hash
from sms_db_spark.schemas import MMS_ADDR_RECIPIENT_TYPES, MSG_MMS, MSG_SMS, SELF, SOURCE_XML
from sms_db_spark.sinks.sqlite_sink import MESSAGES_DDL, PARTS_DDL

_FIRST = [
    "Alice", "Alicia", "Alice Mae", "Bob", "Carol", "Dave", "Eve", "Frank",
    "Grace", "Heidi", "Ivan", "Judy", "Mallory", "Niaj", "Olivia", "Peggy",
    "Rupert", "Sybil", "Trent", "Victor", "Walter", "Zoë", "Renée", "Jürgen",
]
_LAST = ["Smith", "Nguyen", "García", "Okafor", "Kowalski", "Ito", "Brown", "Müller"]
_WORDS = (
    "ok see you soon lunch tomorrow? running late call me back thanks "
    "where are you love it haha sure meeting at 5 can't talk now "
    "happy birthday 🎉 on my way ✓ café naïve"
).split()
DUP_SHARE = 0.1
_T0_MS = 1546300800000  # 2019-01-01
_T1_MS = 1640995199000  # 2021-12-31


@dataclass
class Message:
    """One message element of a backup, as the generator wrote it."""

    kind: str  # "sms" | "mms"
    date: int
    box: int  # sms `type` / mms `msg_box`
    address: str
    contact_name: str
    body: str = ""  # sms only
    parts: list = field(default_factory=list)  # mms: (ct, name, text, data_bytes)
    addrs: list = field(default_factory=list)  # mms: (address, type)


class _Gen:
    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.contacts = [
            (f"+1555{self.rng.randrange(10**7):07d}",
             f"{self.rng.choice(_FIRST)} {self.rng.choice(_LAST)}")
            for _ in range(300)
        ]

    def text(self, lo: int, hi: int) -> str:
        return " ".join(self.rng.choice(_WORDS) for _ in range(self.rng.randint(lo, hi)))

    def message(self) -> Message:
        r = self.rng
        date = r.randint(_T0_MS, _T1_MS)
        phone, name = r.choice(self.contacts)
        if r.random() < 0.8:
            box = r.choices((1, 2, 3, 4), (60, 37, 2, 1))[0]
            return Message("sms", date, box, phone, name, body=self.text(1, 30))
        box = r.choice((1, 2))
        others = r.sample(self.contacts, r.randint(1, 3))
        parts = [("application/smil", "smil.xml", "<smil><body><par/></body></smil>", None)]
        if r.random() < 0.7:
            parts.append(("text/plain", "null", self.text(1, 20), None))
        for _ in range(r.randint(1, 2)):
            ct = r.choice(("image/jpeg", "image/png"))
            ext = "jpg" if ct == "image/jpeg" else "png"
            parts.append((ct, f"IMG_{r.randrange(10**4):04d}.{ext}", "null",
                          r.randbytes(r.randint(256, 4096))))
        if box == 1:
            addrs = [(phone, "137")] + [(p, "151") for p, _ in others]
        else:
            addrs = [("<SELF>", "137")] + [(p, "151") for p, _ in others]
            phone, name = others[0]
        if r.random() < 0.3:
            addrs.append((r.choice(self.contacts)[0], r.choice(("130", "89"))))
        return Message("mms", date, box, phone, name, parts=parts, addrs=addrs)

    def messages(self, n: int) -> list[Message]:
        out: list[Message] = []
        while len(out) < n:
            if out and self.rng.random() < DUP_SHARE:
                out.append(self.rng.choice(out))  # an exact duplicate element
            else:
                out.append(self.message())
        return out


def generate(seed: int, n: int) -> list[Message]:
    """A backup of `n` messages; about `DUP_SHARE` of them are exact
    duplicate elements."""
    return _Gen(seed).messages(n)


def write_xml(messages: list[Message], path: str) -> None:
    """Write a Synctech-shaped backup document."""
    q = quoteattr
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("<?xml version='1.0' encoding='UTF-8' standalone='yes' ?>\n")
        fh.write(f'<smses count="{len(messages)}">\n')
        for m in messages:
            if m.kind == "sms":
                fh.write(
                    f'  <sms protocol="0" address={q(m.address)} date="{m.date}" '
                    f'type="{m.box}" body={q(m.body)} read="1" status="-1" '
                    f'contact_name={q(m.contact_name)} />\n'
                )
                continue
            fh.write(
                f'  <mms date="{m.date}" msg_box="{m.box}" address={q(m.address)} '
                f'contact_name={q(m.contact_name)} m_type="132">\n    <parts>\n'
            )
            for ct, name, text, data in m.parts:
                b64 = base64.b64encode(data).decode("ascii") if data is not None else "null"
                fh.write(
                    f'      <part seq="0" ct={q(ct)} name={q(name)} text={q(text)} data="{b64}" />\n'
                )
            fh.write("    </parts>\n    <addrs>\n")
            for address, typ in m.addrs:
                fh.write(f'      <addr address={q(address)} type="{typ}" charset="106" />\n')
            fh.write("    </addrs>\n  </mms>\n")
        fh.write("</smses>\n")


def _staged(m: Message):
    """(meta, parts) of one element after the importer's normalization."""
    if m.kind == "sms":
        received = m.box == 1
        meta = [
            m.date,
            m.address if received else SELF,
            m.contact_name if received else SELF,
            SELF if received else m.address,
            SELF if received else m.contact_name,
            m.box, MSG_SMS, SOURCE_XML,
        ]
        return meta, [("text/plain", None, m.body, None)]
    received = m.box == 1
    listed = [a for a, t in m.addrs if t in MMS_ADDR_RECIPIENT_TYPES]
    addr_list = ",".join(listed) if listed else None
    if received:
        recipient = addr_list
    else:
        recipient = m.address if addr_list is None else f"{m.address},{addr_list}"
    meta = [
        m.date,
        m.address if received else SELF,
        m.contact_name if received else SELF,
        recipient,
        SELF if received else m.contact_name,
        m.box, MSG_MMS, SOURCE_XML,
    ]
    parts = []
    for ct, name, text, data in m.parts:
        if data is not None and text == "null":
            parts.append((ct, name, None, data))
        else:
            parts.append((ct, name, text, None))
    return meta, parts


@dataclass
class Store:
    """Rows of the two store tables, in _id order, as sqlite3 returns them."""

    messages: list
    parts: list


def expected_store(doc: list[Message]) -> Store:
    """The store a fresh import of `doc` must leave."""
    staged = []
    sms_i = mms_i = 0
    for m in doc:
        if m.kind == "sms":
            local, sms_i = 2 * sms_i, sms_i + 1
        else:
            local, mms_i = 2 * mms_i + 1, mms_i + 1
        staged.append((local, m))
    staged.sort(key=lambda t: t[0])

    messages: list = []
    parts: list = []
    seen: set = set()
    for _, m in staged:
        meta, mparts = _staged(m)
        h = python_reference_hash(
            meta, [(text if text is not None else data, ct) for ct, _, text, data in mparts]
        )
        if h in seen:
            continue
        seen.add(h)
        mid = len(messages) + 1
        messages.append((mid, *meta, h))
        for ct, name, text, data in mparts:
            parts.append((len(parts) + 1, mid, text if text is not None else data, ct, name))
    return Store(messages, parts)


def write_store(store: Store, path: str) -> None:
    """Write `store` with the program's own DDL, row by row."""
    con = sqlite3.connect(path)
    try:
        con.execute(MESSAGES_DDL)
        con.execute(PARTS_DDL)
        con.execute(f"PRAGMA user_version = {DATABASE_VERSION}")
        con.executemany("INSERT INTO messages VALUES(?,?,?,?,?,?,?,?,?,?)", store.messages)
        con.executemany("INSERT INTO parts VALUES(?,?,?,?,?)", store.parts)
        con.commit()
    finally:
        con.close()


def read_store(path: str) -> Store:
    con = sqlite3.connect(path)
    try:
        msgs = con.execute(
            "SELECT _id,timestamp,sender_address,sender_name,recipient_address,"
            "recipient_name,msg_box,message_type,source_format,hash FROM messages ORDER BY _id"
        ).fetchall()
        parts = con.execute(
            "SELECT _id,message_id,data,content_type,filename FROM parts ORDER BY _id"
        ).fetchall()
    finally:
        con.close()
    return Store(msgs, parts)


def check_store(path: str, want: Store) -> list[str]:
    """Problems with the store at `path`; empty when it matches `want` on
    message count, hash set, dense ids, message_id references and part order."""
    got = read_store(path)
    problems = []
    if len(got.messages) != len(want.messages):
        problems.append(f"messages: {len(got.messages)} rows, want {len(want.messages)}")
    if {r[-1] for r in got.messages} != {r[-1] for r in want.messages}:
        problems.append("message hash set differs")
    if [r[0] for r in got.messages] != list(range(1, len(got.messages) + 1)):
        problems.append("messages._id is not dense 1..N")
    if [r[0] for r in got.parts] != list(range(1, len(got.parts) + 1)):
        problems.append("parts._id is not dense 1..M")
    ids = {r[0] for r in got.messages}
    if any(p[1] not in ids for p in got.parts):
        problems.append("parts.message_id references a missing message")
    if not problems and (
        got.messages != want.messages or _as_blobs(got.parts) != _as_blobs(want.parts)
    ):
        problems.append("row contents or part order differ")
    return problems


def _as_blobs(parts: list) -> list:
    """Part rows with `data` as bytes: a non-text part (e.g.
    application/smil) may be stored as TEXT or as BLOB with the same
    content."""
    return [
        (pid, mid, data.encode("utf-8") if isinstance(data, str) else data, ct, fn)
        for pid, mid, data, ct, fn in parts
    ]


def _export_records(store: Store):
    """The sms and mms records an XML export of `store` must contain, in
    document order (the exporter's sort keys with the store _id last)."""
    parts_of: dict[int, list] = {}
    for pid, mid, data, ct, fn in store.parts:
        parts_of.setdefault(mid, []).append((pid, data, ct, fn))
    sms, mms = [], []
    for _id, ts, s_addr, s_name, r_addr, r_name, box, mtype, _, _ in store.messages:
        ps = parts_of.get(_id, [])
        if mtype == MSG_SMS:
            addr = s_addr if box == 1 else r_addr
            body = ps[0][1] if ps else ""
            if isinstance(body, bytes):
                body = body.decode("utf-8")
            sms.append(((ts, addr, _id), (addr, str(ts), str(box), body or "")))
            continue
        if box == 1:
            addr, name = s_addr or "", s_name or ""
        else:
            first = [r for r in (r_addr or "").split(",") if r]
            addr = "".join(ch for ch in first[0] if ch.isdigit()) if first else None
            name = r_name or ""
        rendered = []
        for _, data, ct, fn in ps:
            if (ct or "").startswith("text/"):
                text = data.decode("utf-8") if isinstance(data, bytes) else (data or "")
                rendered.append((ct or "", fn if fn is not None else "null", text, None))
            else:
                raw = data.encode("utf-8") if isinstance(data, str) else (data or b"")
                rendered.append((ct or "", fn if fn is not None else "null", "null",
                                 base64.b64encode(raw).decode("ascii")))
        addrs = [(s_addr or "", "137")] + [(r, "151") for r in (r_addr or "").split(",") if r]
        mms.append(((ts, s_addr or "", _id),
                    (str(ts), str(box), addr, name, rendered, addrs)))
    sms.sort(key=lambda t: t[0])
    mms.sort(key=lambda t: t[0])
    return [r for _, r in sms], [r for _, r in mms]


def check_export(path: str, store: Store, count: int) -> list[str]:
    """Problems with the exported document at `path`; the file is parsed,
    so the creation-time comment line takes no part in the comparison."""
    root = ET.parse(path).getroot()
    want_sms, want_mms = _export_records(store)
    problems = []
    total = len(want_sms) + len(want_mms)
    if count != total or root.get("count") != str(total):
        problems.append(f"count: returned {count}, root {root.get('count')}, want {total}")
    got_sms = [
        (e.get("address"), e.get("date"), e.get("type"), e.get("body"))
        for e in root.iter("sms")
    ]
    got_mms = [
        (
            e.get("date"), e.get("msg_box"), e.get("address"), e.get("contact_name"),
            [(p.get("ct"), p.get("name"), p.get("text"), p.get("data")) for p in e.iter("part")],
            [(a.get("address"), a.get("type")) for a in e.iter("addr")],
        )
        for e in root.iter("mms")
    ]
    if got_sms != want_sms:
        problems.append("sms elements differ from the store")
    if got_mms != want_mms:
        problems.append("mms elements differ from the store")
    return problems
