"""Seeded input generators and plain-Python reference replays.

Every input the engine sees is produced here from ``--seed``; the same seed
gives byte-identical inputs. Each generator also keeps the reference state
the engine's output is checked against, computed without Spark and without
importing the engine.
"""

from __future__ import annotations

import hashlib
import json
import random

# -- shared ----------------------------------------------------------------


def sha256_hex(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def digest_lines(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


SOURCE = {"db": "db0", "server_id": 7}

# -- cdc_bulk_scd1: Debezium envelopes over a customer table ----------------

BULK_ROW_DDL = "id:bigint,name:string,email:string,note:string,amount:bigint,updated_at:bigint"
BULK_ENVELOPE_DDL = (
    f"op string, before struct<{BULK_ROW_DDL}>, after struct<{BULK_ROW_DDL}>, "
    "source struct<db:string,server_id:int>"
)
# column order of the engine's output table (split_cdc_envelope's flat
# columns, then the PII governance columns); ``part`` is the directory key
BULK_COLUMNS = (
    "id", "name", "email", "note", "amount", "updated_at", "src_db",
    "src_server_id", "cdc_op", "row_active", "deleted_flag", "email_hash",
    "note_hash",
)


def _ssn(k: int) -> str:
    return f"{100 + k % 900}-{10 + k % 90}-{1000 + k % 9000}"


def bulk_seed_row(i: int, seed: int) -> dict:
    """Initial row ``i``; ``CdcBulkScd1._seed_rows`` builds the identical
    row with Spark expressions."""
    return {
        "id": i,
        "name": f"name{i}",
        "email": f"user{i}@example.com",
        "note": f"call {_ssn(i)} or mail user{i}@example.com ref {i % 1000}",
        "amount": (i * 7919 + seed) % 1000003,
        "updated_at": 0,
    }


def _expected_note_hash(note_parts: tuple[str, str, int]) -> str:
    ssn, email, ref = note_parts
    return f"call {sha256_hex(ssn)} or mail {sha256_hex(email)} ref {ref}"


def _note_parts(row: dict) -> tuple[str, str, int]:
    # notes are always "call <ssn> or mail <email> ref <n>"
    _, ssn, _, _, email, _, ref = row["note"].split(" ")
    return ssn, email, int(ref)


def bulk_output_row(row: dict, op: str) -> tuple:
    """What the engine should store for one winning change row."""
    deleted = op == "d"
    return (
        row["id"], row["name"], row["email"], row["note"], row["amount"],
        row["updated_at"], SOURCE["db"], SOURCE["server_id"], op,
        not deleted, deleted, sha256_hex(row["email"]),
        _expected_note_hash(_note_parts(row)),
    )


class BulkCdcGenerator:
    """Batches of Debezium envelopes against a table seeded with ``n0`` ids.

    Updates and deletes pick ids weighted toward the newest id range (an
    exponential distance from the top id), inserts mint new ids, so a batch
    touches a few recent partitions heavily and older ones lightly. Every
    update carries a new ``amount`` and note, so every change is a real one.
    """

    def __init__(self, seed: int, n0: int, batch_rows: int, delete_frac: float = 0.1,
                 insert_frac: float = 0.2):
        self.seed = seed
        self.n0 = n0
        self.batch_rows = batch_rows
        self.delete_frac = delete_frac
        self.insert_frac = insert_frac
        self.next_id = n0
        self.seq = 0
        # reference state of the ids changed since the seed: id -> raw source
        # row, and id -> stored tuple; unchanged ids hold their seed row
        self.raw: dict[int, dict] = {}
        self.changed: dict[int, tuple] = {}
        self.digests: list[str] = []
        self.last_ids: set[int] = set()

    def seed_digest(self) -> str:
        return digest_lines(
            json.dumps(bulk_seed_row(i, self.seed), sort_keys=True) for i in range(self.n0)
        )

    def _raw(self, i: int) -> dict:
        return self.raw.get(i) or bulk_seed_row(i, self.seed)

    def expected(self) -> dict[int, tuple]:
        """The final table the engine should hold: id -> stored tuple."""
        return {
            i: self.changed.get(i) or bulk_output_row(bulk_seed_row(i, self.seed), "c")
            for i in range(self.next_id)
        }

    def _recent_id(self, rng: random.Random, top: int) -> int:
        back = int(rng.expovariate(8.0 / self.n0))
        return max(0, top - 1 - back)

    def next_batch(self, batch_no: int) -> list[str]:
        """JSON lines of one batch; the reference state advances with it."""
        rng = random.Random(self.seed * 1_000_003 + batch_no)
        lines, changes = [], []
        top = self.next_id  # updates and deletes hit ids that existed at batch start
        for _ in range(self.batch_rows):
            self.seq += 1
            r = rng.random()
            if r < self.insert_frac:
                i = self.next_id
                self.next_id += 1
                op = "c"
            else:
                i = self._recent_id(rng, top)
                op = "d" if r < self.insert_frac + self.delete_frac else "u"
            k = self.seq * 31 + self.seed
            if op == "d":
                # a delete carries the before-image of the row as of batch start
                row = {**self._raw(i), "updated_at": self.seq}
            else:
                email = f"user{i}.{k % 997}@example.com"
                row = {
                    "id": i,
                    "name": f"name{i}",
                    "email": email,
                    "note": f"call {_ssn(k)} or mail {email} ref {k % 1000}",
                    "amount": rng.randrange(1_000_000),
                    "updated_at": self.seq,
                }
            env = {
                "op": op,
                "before": row if op == "d" else None,
                "after": None if op == "d" else row,
                "source": SOURCE,
            }
            lines.append(json.dumps(env, sort_keys=True))
            changes.append((op, row))
        # SCD1 replay: within a batch the EARLIEST change per id wins (the
        # engine's pre-merge dedup orders updated_at ascending); across
        # batches the later batch overwrites the stored row.
        winners: dict[int, tuple[str, dict]] = {}
        for op, row in changes:
            winners.setdefault(row["id"], (op, row))
        for i, (op, row) in winners.items():
            self.raw[i] = row
            self.changed[i] = bulk_output_row(row, op)
        self.last_ids = set(winners)
        self.digests.append(digest_lines(lines))
        return lines


# -- cdc_trickle_scd2: rate-source envelopes --------------------------------

TRICKLE_ROW_DDL = "key:bigint,name:string,amount:bigint,updated_at:bigint"
TRICKLE_ENVELOPE_DDL = (
    f"op string, before struct<{TRICKLE_ROW_DDL}>, after struct<{TRICKLE_ROW_DDL}>, "
    "source struct<db:string,server_id:int>"
)
TRICKLE_COLUMNS = (
    "key", "name", "amount", "updated_at", "src_db", "src_server_id", "cdc_op",
    "row_active", "deleted_flag", "current_flag", "expiry_at",
)
_MULTIPLIERS = (7919, 7927, 7933, 7937, 7949, 7951, 7963, 7993)


class TrickleSpec:
    """The rate source's value ``v`` fully determines envelope ``v``.

    ``v % 10 == 3`` inserts a brand-new key (``n_keys + v``); ``v % 10 == 7``
    deletes; everything else updates key ``(v * mult + offset) % n_keys``.
    ``amount = v`` never repeats, so every update changes the tracked
    attribute and yields a new SCD2 version, however long the run. The key
    map is a bijection on ``[0, n_keys)``, so a batch shorter than
    ``n_keys`` never repeats a key.
    """

    def __init__(self, seed: int, n_keys: int, rows_per_batch: int):
        rng = random.Random(seed)
        self.seed = seed
        self.n_keys = n_keys
        self.rows_per_batch = rows_per_batch
        self.mult = rng.choice([m for m in _MULTIPLIERS if _gcd(m, n_keys) == 1])
        self.offset = rng.randrange(n_keys)

    def op(self, v: int) -> str:
        return {3: "c", 7: "d"}.get(v % 10, "u")

    def key(self, v: int) -> int:
        if v % 10 == 3:
            return self.n_keys + v
        return (v * self.mult + self.offset) % self.n_keys

    def seed_row(self, k: int) -> tuple:
        return (k, f"k{k}", -1 - k, 0, SOURCE["db"], SOURCE["server_id"], "c",
                True, False, True, None)

    def batch_values(self, batch_id: int) -> range:
        return range(batch_id * self.rows_per_batch, (batch_id + 1) * self.rows_per_batch)

    def batch_digest(self, batch_id: int) -> str:
        return digest_lines(
            f"{self.op(v)},{self.key(v)},{v}" for v in self.batch_values(batch_id)
        )

    def spec_digest(self) -> str:
        return sha256_hex(
            json.dumps({"seed": self.seed, "n_keys": self.n_keys, "mult": self.mult,
                        "offset": self.offset, "rows_per_batch": self.rows_per_batch})
        )

    def replay(self, batch_ids) -> list[tuple]:
        """Final SCD2 table for the given committed batches, in plain Python.

        Mirrors the engine's SCD2 contract: a change whose tracked attribute
        (``amount``) differs from the current version expires it
        (``current_flag=false``, ``expiry_at=updated_at``) and inserts a new
        current version; a delete additionally marks every OTHER version of
        the key ``deleted_flag=true``; a new key is inserted as current.
        """
        rows: dict[int, list[list]] = {
            k: [list(self.seed_row(k))] for k in range(self.n_keys)
        }
        for b in batch_ids:
            for v in self.batch_values(b):
                op, k = self.op(v), self.key(v)
                new = [k, f"k{k}", v, v + 1, SOURCE["db"], SOURCE["server_id"], op,
                       op != "d", op == "d", True, None]
                versions = rows.get(k)
                if versions is None:
                    rows[k] = [new]
                    continue
                changed = any(r[9] and r[2] != v for r in versions)
                for r in versions:
                    if r[9] and r[2] != v:
                        r[9], r[10] = False, v + 1
                    elif op == "d":
                        r[8] = True
                if changed:
                    versions.append(new)
        return [tuple(r) for vs in rows.values() for r in vs]


def _gcd(a: int, b: int) -> int:
    while b:
        a, b = b, a % b
    return a


# -- dedup_ingest: documents with planted near-duplicates -------------------


class DocGenerator:
    """80-token documents over a 50k-word vocabulary, ids minted in order.

    A planted near-duplicate copies an earlier ORIGINAL document and replaces
    its last token: 77 of its 79 word 3-shingles are shared (Jaccard 0.975),
    so the 64-hash estimator clears the 0.8 threshold by about nine standard
    deviations. Unrelated documents share essentially no 3-shingles.
    """

    TOKENS = 80
    VOCAB = 50_000

    def __init__(self, seed: int, dup_frac: float = 0.1):
        self.seed = seed
        self.dup_frac = dup_frac
        self.next_id = 0
        self.originals: list[int] = []
        self.texts: dict[int, str] = {}
        self.digests: list[str] = []

    def _doc(self, rng: random.Random) -> str:
        return " ".join(f"w{rng.randrange(self.VOCAB)}" for _ in range(self.TOKENS))

    def next_batch(self, batch_no: int, n_docs: int, plant: bool = True):
        """Return (JSON lines, planted duplicate ids) for one batch."""
        rng = random.Random(self.seed * 1_000_003 + batch_no)
        lines, planted = [], set()
        for _ in range(n_docs):
            i = self.next_id
            self.next_id += 1
            if plant and self.originals and rng.random() < self.dup_frac:
                src = self.texts[rng.choice(self.originals)].rsplit(" ", 1)[0]
                text = f"{src} x{rng.randrange(self.VOCAB)}"
                planted.add(i)
            else:
                text = self._doc(rng)
                self.originals.append(i)
                self.texts[i] = text
            lines.append(json.dumps({"doc_id": i, "text": text}))
        self.digests.append(digest_lines(lines))
        return lines, planted
