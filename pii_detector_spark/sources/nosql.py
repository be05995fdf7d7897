"""Segment-parallel NoSQL scan planning (S7 DynamoDB, S8 DocumentDB/Mongo).

The reference walks both stores with serial LIMIT/OFFSET-style cursors:

* DynamoDB — a COUNT pre-scan to find the chunk's ``LastEvaluatedKey``,
  then a second scan from that key (``app/services/dynamodb.py:90-154``,
  chunks of ``CHUNK_JSON_CAPACITY = 1000``). That is O(n²) server reads
  across a table (every chunk re-walks its offset).
* DocumentDB — ``collection.find().skip(offset).limit(limit)``
  (``documentdb.py:219-252``), same quadratic skip cost.

Spark-first translation (range predicates instead of OFFSET):

* **DynamoDB**: the service's native parallel scan — ``TotalSegments`` /
  ``Segment`` — one segment per Spark task; each segment is an independent
  server-side partition walk (no offsets, no overlap, exactly-once rows).
* **Mongo/DocumentDB**: disjoint ``_id``-range cursors
  (``{_id: {$gte: lo, $lt: hi}}``) from split points, the same strategy
  the official mongo-spark connector uses; each range is one task's
  cursor, resumable and skip-free.

The reference's schema-union normalization (items in one chunk disagree on
keys; it unions the key sets and back-fills — ``dynamodb.py:146-154``,
``documentdb.py:246-249``) is ``align_item_columns`` here, applied
per-batch executor-side.

No live store is needed: the fetch callable is an injected seam (boto3 /
pymongo plug in on a cluster); the planning math and the distributed fetch
orchestration are the tested surface.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# reference chunk size (app/core/config.py:131)
CHUNK_JSON_CAPACITY = 1_000

DEFAULT_MAX_SEGMENTS = 256


@dataclass(frozen=True)
class DynamoScanPlan:
    table: str
    total_segments: int

    def segment_params(self) -> list[dict[str, Any]]:
        """One boto3 ``scan`` kwargs dict per segment (the parallel-scan
        API shape); pagination inside a segment follows
        ``LastEvaluatedKey`` → ``ExclusiveStartKey`` natively."""
        return [
            {
                "TableName": self.table,
                "Segment": i,
                "TotalSegments": self.total_segments,
            }
            for i in range(self.total_segments)
        ]


def plan_dynamo_scan(
    table: str,
    item_count: int,
    items_per_segment: int = CHUNK_JSON_CAPACITY,
    max_segments: int = DEFAULT_MAX_SEGMENTS,
) -> DynamoScanPlan:
    """Segment count from the table's ItemCount (the same DescribeTable
    statistic the reference chunks on, ``dynamodb.py:75-88``), clamped so
    a huge table doesn't open thousands of concurrent scans."""
    if item_count < 0:
        raise ValueError("item_count must be >= 0")
    n = max(1, math.ceil(item_count / items_per_segment)) if item_count else 1
    return DynamoScanPlan(table=table, total_segments=min(n, max_segments))


@dataclass(frozen=True)
class MongoRangePlan:
    database: str
    collection: str
    bounds: tuple  # k+1 split points → k ranges

    def range_filters(self) -> list[dict[str, Any]]:
        """Disjoint covering ``find`` filters: [lo, hi) per range, the last
        range unbounded above (new inserts during the scan still land in
        exactly one cursor)."""
        out: list[dict[str, Any]] = []
        b = list(self.bounds)
        for i in range(len(b) - 1):
            cond: dict[str, Any] = {"$gte": b[i]}
            if i < len(b) - 2:
                cond["$lt"] = b[i + 1]
            out.append({"_id": cond})
        return out


def plan_mongo_ranges(
    database: str,
    collection: str,
    doc_count: int,
    id_min: Any,
    id_max: Any,
    split_keys: list | None = None,
    docs_per_range: int = CHUNK_JSON_CAPACITY,
    max_ranges: int = DEFAULT_MAX_SEGMENTS,
) -> MongoRangePlan:
    """``_id``-range planning. With integer ids the split points are
    computed arithmetically; for ObjectId/string ids pass ``split_keys``
    (e.g. from ``splitVector`` or a sampled quantile scan) and they are
    used verbatim."""
    if doc_count < 0:
        raise ValueError("doc_count must be >= 0")
    if split_keys is not None:
        bounds = [id_min, *split_keys, id_max]
        return MongoRangePlan(database, collection, tuple(bounds))
    n = max(1, math.ceil(doc_count / docs_per_range)) if doc_count else 1
    n = min(n, max_ranges)
    if isinstance(id_min, int) and isinstance(id_max, int):
        span = max(1, id_max - id_min + 1)
        n = min(n, span)
        width = math.ceil(span / n)
        bounds = [id_min + i * width for i in range(n)] + [id_max]
        return MongoRangePlan(database, collection, tuple(bounds))
    # non-numeric ids without split keys: one full range
    return MongoRangePlan(database, collection, (id_min, id_max))


def align_item_columns(items: list[dict]) -> list[dict]:
    """The reference's schema-union normalization: union of keys across the
    batch, missing keys back-filled with None, every item emitted with the
    same (sorted) key order (``dynamodb.py:146-154``,
    ``documentdb.py:246-249`` — made deterministic: the reference iterates
    an unordered set)."""
    columns = sorted({k for item in items for k in item})
    return [{c: item.get(c) for c in columns} for item in items]


# --- DynamoDB segment pager (the real paging contract) ---------------------

#: error codes DynamoDB documents as retryable for reads; the reference
#: delegates these to botocore's retry machinery with max_attempts=10
#: (``app/services/aws_base_service.py:13-20``)
RETRYABLE_SCAN_CODES = frozenset(
    {
        "ProvisionedThroughputExceededException",
        "ThrottlingException",
        "InternalServerError",
        "ServiceUnavailable",
    }
)

DEFAULT_MAX_ATTEMPTS = 10  # reference budget: retries={'max_attempts': 10}


def _default_is_retryable(exc: Exception) -> bool:
    """botocore ``ClientError`` carries response['Error']['Code']; the seam
    also accepts any exception exposing a ``code`` attribute so fakes and
    other clients conform without botocore installed."""
    code = getattr(exc, "code", None)
    if code is None:
        resp = getattr(exc, "response", None)
        if isinstance(resp, dict):
            code = resp.get("Error", {}).get("Code")
    return code in RETRYABLE_SCAN_CODES


def scan_segment_items(
    scan_fn: Callable[..., dict],
    params: dict,
    max_attempts: int = DEFAULT_MAX_ATTEMPTS,
    backoff_base_s: float = 0.05,
    sleep: Callable[[float], None] | None = None,
    is_retryable: Callable[[Exception], bool] = _default_is_retryable,
) -> list[dict]:
    """Walk ONE parallel-scan segment with DynamoDB's REAL paging contract
    (conformance-tested against a faithful fake in
    ``tests/test_nosql_plan.py``; reference cursor:
    ``app/services/dynamodb.py:112-140``):

    * pages thread ``LastEvaluatedKey`` → ``ExclusiveStartKey`` verbatim;
    * the walk ends ONLY when ``LastEvaluatedKey`` is absent — an EMPTY
      ``Items`` page with a key is normal (the 1 MB server-side page cut
      can land mid-segment / before any matching item) and must not
      terminate the scan;
    * throttle-class errors (``RETRYABLE_SCAN_CODES``) re-request the SAME
      page — same ``ExclusiveStartKey``; scans are idempotent reads — with
      exponential backoff, up to ``max_attempts`` total attempts per page
      (the reference's botocore budget); non-retryable errors propagate;
    * items accumulate across pages in arrival order.
    """
    import time

    do_sleep = time.sleep if sleep is None else sleep
    items: list[dict] = []
    page_params = dict(params)
    while True:
        attempt = 0
        while True:
            attempt += 1
            try:
                page = scan_fn(**page_params)
                break
            except Exception as exc:  # noqa: BLE001 — classified below
                if attempt >= max_attempts or not is_retryable(exc):
                    raise
                do_sleep(backoff_base_s * (2 ** (attempt - 1)))
        items.extend(page.get("Items") or [])
        last_key = page.get("LastEvaluatedKey")
        if not last_key:
            return items
        page_params = {**params, "ExclusiveStartKey": last_key}


def dynamo_fetch_spec(
    scan_fn: Callable[..., dict],
    max_attempts: int = DEFAULT_MAX_ATTEMPTS,
) -> "FetchSpec":
    """Adapt a boto3-shaped ``scan`` callable into the ``FetchSpec`` seam
    used by ``read_parallel_specs``: each executor task walks its segment's
    full page chain via ``scan_segment_items``."""
    return lambda spec: scan_segment_items(
        scan_fn, spec, max_attempts=max_attempts
    )


# --- Mongo/DocumentDB range-cursor pager ------------------------------------

RETRYABLE_CURSOR_CODES = frozenset(
    {"CursorNotFound", "NetworkTimeout", "NotPrimaryNoSecondaryOk",
     "HostUnreachable"}
)


def _cursor_is_retryable(exc: Exception) -> bool:
    return getattr(exc, "code", None) in RETRYABLE_CURSOR_CODES


def range_cursor_items(
    find_fn: Callable[..., "list[dict]"],
    id_filter: dict,
    batch_size: int = 1000,
    max_attempts: int = DEFAULT_MAX_ATTEMPTS,
    backoff_base_s: float = 0.05,
    sleep: Callable[[float], None] | None = None,
    is_retryable: Callable[[Exception], bool] = _cursor_is_retryable,
) -> list[dict]:
    """Walk ONE ``_id``-range with skip-free resume-after-last-id batches
    (the mongo-spark connector's strategy; replaces the reference's
    quadratic ``skip(offset).limit(limit)`` cursor,
    ``app/services/documentdb.py:219-252``):

    * each batch is ``find_fn({'_id': bounds}, sort=('_id', 1),
      limit=batch_size)``; after a batch the lower bound narrows to
      ``{'$gt': last_id}`` — a re-issued query never re-reads or skips;
    * a dropped cursor / transient error (``RETRYABLE_CURSOR_CODES``)
      re-issues the SAME narrowed query with exponential backoff up to
      ``max_attempts`` attempts per batch — no duplicates, because resume
      is by id bound, not offset;
    * the walk ends when a batch comes back shorter than ``batch_size``.
    """
    import time

    do_sleep = time.sleep if sleep is None else sleep
    items: list[dict] = []
    bounds = dict(id_filter)
    while True:
        attempt = 0
        while True:
            attempt += 1
            try:
                batch = find_fn(
                    {"_id": dict(bounds)}, sort=("_id", 1), limit=batch_size
                )
                break
            except Exception as exc:  # noqa: BLE001 — classified below
                if attempt >= max_attempts or not is_retryable(exc):
                    raise
                do_sleep(backoff_base_s * (2 ** (attempt - 1)))
        items.extend(batch)
        if len(batch) < batch_size:
            return items
        bounds.pop("$gte", None)
        bounds["$gt"] = batch[-1]["_id"]


def mongo_fetch_spec(
    find_fn: Callable[..., "list[dict]"],
    batch_size: int = 1000,
    max_attempts: int = DEFAULT_MAX_ATTEMPTS,
) -> "FetchSpec":
    """Adapt a pymongo-shaped ``find`` callable into the ``FetchSpec``
    seam: each executor task walks its range's batch chain via
    ``range_cursor_items`` (spec = one ``range_filters()`` entry)."""
    return lambda spec: range_cursor_items(
        find_fn, spec["_id"], batch_size=batch_size, max_attempts=max_attempts
    )


# fetch_spec(spec_json: dict) -> list[dict] rows for that segment/range
FetchSpec = Callable[[dict], "list[dict]"]


def read_parallel_specs(
    spark: SparkSession,
    specs: list[dict],
    fetch_spec: FetchSpec,
    schema: StructType | str,
) -> DataFrame:
    """Distribute segment/range specs over executors and fetch each with
    the injected client. Specs ride as JSON strings (works for Dynamo segment params and
    Mongo range filters alike); one task per spec; rows are aligned to
    ``schema``'s fields (the schema-union rule) before yielding."""
    import json

    import pandas as pd

    struct = (
        schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    )
    names = [f.name for f in struct.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for s in pdf["spec"]:
                items = align_item_columns(fetch_spec(json.loads(s)))
                yield pd.DataFrame(
                    {n: [it.get(n) for it in items] for n in names}
                )

    sdf = spark.createDataFrame(
        [(json.dumps(s, default=str, sort_keys=True),) for s in specs],
        "spec string",
    ).repartition(max(1, len(specs)))
    return sdf.mapInPandas(run, schema=schema)
