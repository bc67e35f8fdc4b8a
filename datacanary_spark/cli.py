"""CLI — mirrors the reference's command surface
(/root/reference/src/datacanary/__main__.py:53-137: analyse / check +
local variants) and adds the engine's own jobs:

    python -m datacanary_spark analyse --file <parquet> [--output out.json]
    python -m datacanary_spark check   --file <parquet> [--rules rules.yaml]
                                       [--report out.txt] [--json out.json]
    # reference-parity cloud source flags on analyse/check (all map to
    # one Hadoop-FS code path — resolve_source()):
    #   --bucket B --key K [--profile P] [--region R]          → s3a://B/K
    #   --azure-container C --azure-blob B --azure-account-url U [--azure-account-key K]
    #                                  → abfss://C@acct.dfs.core.windows.net/B
    #   --gcs-bucket G --gcs-blob B [--gcs-credentials sa.json] → gs://G/B
    python -m datacanary_spark filter  --input <pages dir> --output <dir>
                                       [--chunks N] [--buckets N] [--from-html]
    python -m datacanary_spark gen-pages --output <dir> --docs N [--seed 42]
    python -m datacanary_spark package [--dest dist/]   # py-files zip

spark-submit usage (multi-executor):
    spark-submit --py-files dist/datacanary_spark.zip jobs/filter_job.py \
        --input s3a://bucket/pages --output s3a://bucket/filtered

Unlike the reference, `--json` works on every command (its check-local
dumps `args.key` which the parser never defines — __main__.py:593 vs
:112-116 — a crash we deliberately do not replicate).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _bands_arg(v: str):
    """'auto' or a positive int — argparse type, so bad input is a
    clean usage error instead of a traceback."""
    if v == "auto":
        return v
    n = int(v)
    if n < 1:
        raise ValueError("band count must be >= 1")
    return n


def _spark(args, extra_conf=None):
    from datacanary_spark.session import get_spark

    return get_spark(app_name=f"datacanary_{args.command}",
                     master=getattr(args, "master", None),
                     extra_conf=extra_conf)


def load_credentials_file(path: str, provider: str) -> dict[str, str]:
    """Reference-parity credential files → Spark conf.

    The reference auto-discovers ``credentials/{s3_credentials.csv,
    azure_credentials.json, gcs_credentials.json}`` and parses them
    in-process (__main__.py:20-51,156-177); here the file is passed
    explicitly (``--credentials-file``) and maps onto configuration:

    * s3 — CSV with a header row, first data row ``access_key,
      secret_key`` (exactly the reference's parse) → fs.s3a keys;
    * azure — JSON with ``connection_string`` and/or ``account_url`` +
      ``account_key``. Returns the parsed PARTS (``{"account": …,
      "account_key": …}``, either possibly empty) rather than conf:
      the account name may instead come from a flag or the abfss://
      URI, so the caller merges and builds the conf entry once — a
      file that carries only the key must not be discarded;
    * gcs — the file IS the service-account JSON keyfile → keyfile conf.
    """
    from datacanary_spark.sources.io import object_store_conf

    if provider == "s3":
        import csv

        with open(path, newline="") as f:
            reader = csv.reader(f)
            next(reader, None)  # header row
            for row in reader:
                if len(row) >= 2:
                    return object_store_conf("s3", {
                        "access_key": row[0].strip(),
                        "secret_key": row[1].strip()})
        raise SystemExit(f"no credential row in {path} "
                         "(expected header then access_key,secret_key)")
    if provider == "azure":
        with open(path) as f:
            creds = json.load(f)
        account, key = "", ""
        if creds.get("connection_string"):
            account, key = _parse_azure_conn(creds["connection_string"])
        if creds.get("account_url"):
            account = creds["account_url"].split("//")[-1].split(".")[0]
        if creds.get("account_key"):
            key = creds["account_key"]
        return {"account": account, "account_key": key}
    if provider == "gcs":
        return object_store_conf("gcs", {"keyfile": path})
    raise SystemExit(f"unknown credentials provider: {provider}")


def _parse_azure_conn(conn: str) -> tuple[str, str]:
    """(AccountName, AccountKey) from an Azure connection string — the
    single parse shared by the flag and the credentials file."""
    parts = dict(kv.split("=", 1) for kv in conn.split(";") if "=" in kv)
    return parts.get("AccountName", ""), parts.get("AccountKey", "")


def _file_uri_conf(uri: str, cred_file: str) -> dict[str, str]:
    """Credentials-file conf for a --file cloud URI, provider inferred
    from the scheme (a local path or an unknown scheme gets none). For
    abfss:// the account comes from the URI authority
    (``container@account.dfs…``) when the file doesn't name one."""
    from datacanary_spark.sources.io import object_store_conf

    scheme = uri.split("://", 1)[0].lower() if "://" in uri else ""
    if scheme in ("s3a", "s3", "s3n"):
        return load_credentials_file(cred_file, "s3")
    if scheme in ("abfss", "abfs", "wasb", "wasbs"):
        parts = load_credentials_file(cred_file, "azure")
        account = parts.get("account", "")
        if not account and "@" in uri:
            account = uri.split("@", 1)[1].split(".", 1)[0]
        if account and parts.get("account_key"):
            # wasb[s] connectors read the account key against the blob
            # endpoint, abfs[s] against dfs — match the URI's scheme so
            # the credential actually applies (ADVICE r03).
            suffix = ("blob.core.windows.net" if scheme in ("wasb", "wasbs")
                      else "dfs.core.windows.net")
            return object_store_conf("azure", {
                "account": account, "account_key": parts["account_key"],
                "endpoint_suffix": suffix})
        return {}
    if scheme == "gs":
        return load_credentials_file(cred_file, "gcs")
    return {}


def resolve_source(args) -> tuple[str, dict[str, str]]:
    """Map the reference's per-provider source flags
    (/root/reference/src/datacanary/__main__.py:62-109: --bucket/--key,
    --azure-container/--azure-blob, --gcs-bucket/--gcs-blob) onto the
    engine's single code path: a Hadoop-FS URI plus Spark conf entries.
    Returns (uri, conf). ``--file`` wins when given (local/any URI).
    ``--credentials-file`` supplies credentials in the reference's file
    formats (see :func:`load_credentials_file`).
    """
    from datacanary_spark.sources.io import object_store_conf

    cred_file = getattr(args, "credentials_file", None)
    if getattr(args, "file", None):
        # --file takes any URI — a cloud scheme still deserves the
        # credentials file (provider inferred from the scheme)
        conf = _file_uri_conf(args.file, cred_file) if cred_file else {}
        return args.file, conf
    if getattr(args, "bucket", None) and getattr(args, "key", None):
        conf = {}
        if cred_file:
            conf.update(load_credentials_file(cred_file, "s3"))
        if getattr(args, "region", None):
            conf["spark.hadoop.fs.s3a.endpoint.region"] = args.region
        if getattr(args, "profile", None):
            # hadoop-aws 3.4+ (SDK v2) instantiates providers via their
            # no-arg create(), which reads AWS_PROFILE. This export only
            # reaches the driver JVM if it happens BEFORE getOrCreate()
            # (Java captures env at process start), and the executorEnv
            # key only works as session-builder conf — which is why
            # _spark_and_df resolves the source first and passes this
            # conf into the builder.
            import os

            os.environ["AWS_PROFILE"] = args.profile
            conf["spark.executorEnv.AWS_PROFILE"] = args.profile
            conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
                "software.amazon.awssdk.auth.credentials."
                "ProfileCredentialsProvider")
        return f"s3a://{args.bucket}/{args.key}", conf
    if getattr(args, "azure_container", None) and getattr(args, "azure_blob", None):
        account, key = "", ""
        if cred_file:
            parts = load_credentials_file(cred_file, "azure")
            # partial files are fine: a key-only file pairs with an
            # account named by flag; flags below override non-empty
            account, key = parts.get("account", ""), parts.get("account_key", "")
        if getattr(args, "azure_connection_string", None):
            account, key = _parse_azure_conn(args.azure_connection_string)
        if getattr(args, "azure_account_url", None):
            # https://{account}.blob.core.windows.net
            account = args.azure_account_url.split("//")[-1].split(".")[0]
        if getattr(args, "azure_account_key", None):
            key = args.azure_account_key
        if not account:
            raise SystemExit("azure source needs --azure-account-url or "
                             "--azure-connection-string to name the account")
        uri = (f"abfss://{args.azure_container}@{account}"
               f".dfs.core.windows.net/{args.azure_blob}")
        conf = object_store_conf("azure", {"account": account, "account_key": key})
        return uri, conf
    if getattr(args, "gcs_bucket", None) and getattr(args, "gcs_blob", None):
        conf = {}
        if getattr(args, "gcs_credentials", None):
            conf = object_store_conf("gcs", {"keyfile": args.gcs_credentials})
        elif cred_file:
            conf = load_credentials_file(cred_file, "gcs")
        if getattr(args, "gcs_project", None):
            conf["spark.hadoop.fs.gs.project.id"] = args.gcs_project
        return f"gs://{args.gcs_bucket}/{args.gcs_blob}", conf
    raise SystemExit(
        "no source given: pass --file PATH, or --bucket/--key (S3), or "
        "--azure-container/--azure-blob, or --gcs-bucket/--gcs-blob")


def _spark_and_df(args):
    """Resolve the source flags BEFORE building the session, then read
    lazily. Ordering matters twice:

    * ``resolve_source`` may export ``AWS_PROFILE`` — the driver JVM
      captures its environment at launch, so the export must precede
      ``getOrCreate()`` (an SDK-v2 ProfileCredentialsProvider on a JVM
      started earlier would silently see no profile).
    * ``spark.executorEnv.*`` keys only take effect as session-builder
      conf (executor launch env is fixed at session start), so the
      resolved conf is passed through ``get_spark(extra_conf=...)``.

    ``apply_store_conf`` then ALSO applies the keys to the live session:
    if ``getOrCreate`` returned a pre-existing session (tests, notebook
    reuse) the builder conf was ignored, and ``spark.hadoop.*`` keys
    must go directly onto the live ``hadoopConfiguration()`` — the
    object every FileSystem connector actually reads.
    """
    from datacanary_spark.sources import io as src_io

    uri, conf = resolve_source(args)
    spark = _spark(args, extra_conf=conf)
    src_io.apply_store_conf(spark, conf)
    return spark, src_io.read_table(spark, uri), uri


def cmd_analyse(args) -> int:
    from datacanary_spark.operators.profiler import analyse_dataframe

    spark, df, uri = _spark_and_df(args)
    profile = analyse_dataframe(df, approx=args.approx)
    _print_profile(profile)
    if args.output:
        with open(args.output, "w") as f:
            json.dump({"dataset": uri, "profile": profile}, f,
                      indent=2, default=str)
        print(f"\nJSON written to {args.output}")
    return 0


def cmd_check(args) -> int:
    from datacanary_spark.analysis.insights import get_data_insights
    from datacanary_spark.analysis.summary import calculate_summary, get_health_score
    from datacanary_spark.operators.profiler import analyse_dataframe
    from datacanary_spark.reporting import generate_text_report
    from datacanary_spark.rules.config import load_rules_from_file
    from datacanary_spark.rules.engine import RuleEngine, default_rules

    spark, df, uri = _spark_and_df(args)
    profile = analyse_dataframe(df, approx=args.approx)

    engine = RuleEngine()
    rules = load_rules_from_file(args.rules) if args.rules else default_rules()
    for r in rules:
        engine.add_rule(r)
    results = engine.evaluate_profile(profile, df=df)

    summary = calculate_summary(profile)
    health = get_health_score(results, profile)
    insights = get_data_insights(profile)
    report = generate_text_report(uri, profile, results,
                                  summary=summary, health=health,
                                  insights=insights)
    if args.report:
        with open(args.report, "w") as f:
            f.write(report)
        print(f"report written to {args.report}")
    else:
        print(report)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"dataset": uri, "profile": profile,
                       "rules": results, "summary": summary,
                       "health": health, "insights": insights},
                      f, indent=2, default=str)
        print(f"JSON written to {args.json}")
    all_passed = all(r["result"]["passed"] for col in results.values() for r in col)
    return 0 if all_passed else 1


def cmd_filter(args) -> int:
    from datacanary_spark.plans.checkpoint import run_filter_job

    spark = _spark(args)
    summary = run_filter_job(
        spark, args.input, args.output,
        n_chunks=args.chunks,
        repartition_buckets=args.buckets,
        extract_from_html=args.from_html,
        input_format=args.input_format,
        extractor=args.extractor,
        structure_rules=args.structure_rules,
        http_ok_only=not args.keep_http_errors,
    )
    print(json.dumps(summary))
    return 0


def cmd_dedup(args) -> int:
    """Corpus dedup job: exact | lines (C4-style) | near (MinHash-LSH).

    ``near`` removes the HIGHER id of each detected pair (the min-id
    doc survives, matching the batch operators' survivor rule).
    """
    from pyspark.sql import functions as F

    from datacanary_spark.operators import dedup as dd
    from datacanary_spark.sources.io import read_table

    spark = _spark(args)
    df = read_table(spark, args.input)
    if args.mode == "exact":
        out = dd.dedup_exact(df, id_col=args.id_col, text_col=args.text_col)
    elif args.mode == "lines":
        deduped = dd.dedup_lines(df, id_col=args.id_col,
                                 text_col=args.text_col)
        # dedup_lines returns every doc (null-text rows pass through
        # with text still null); join re-attaches the non-text columns
        out = df.drop(args.text_col).join(deduped, args.id_col, "left")
    else:  # near
        pairs = dd.near_dup_pairs(df, id_col=args.id_col,
                                  text_col=args.text_col,
                                  threshold=args.threshold,
                                  bands=args.bands,
                                  hash_fn=args.hash_fn)
        drops = pairs.select(F.col("id_b").alias(args.id_col)).distinct()
        out = df.join(drops, args.id_col, "left_anti")
    out.write.mode("overwrite").parquet(args.output)
    n_in, n_out = df.count(), spark.read.parquet(args.output).count()
    print(json.dumps({"mode": args.mode, "rows_in": n_in,
                      "rows_out": n_out}))
    return 0


def cmd_dedup_media(args) -> int:
    """Perceptual media dedup job (plans/media_dedup.py): per-modality
    near-dup pairs -> transitive clusters -> one survivor each."""
    from datacanary_spark.plans.media_dedup import run_media_dedup_job

    spark = _spark(args)
    summary = run_media_dedup_job(
        spark, args.input, args.output, keep=args.keep,
        image_distance=args.image_distance,
        audio_distance=args.audio_distance,
        video_min_shared=args.video_min_shared,
        frame_stride=args.frame_stride, max_frames=args.max_frames)
    print(json.dumps(summary, sort_keys=True))
    return 0


def cmd_ingest(args) -> int:
    """Batch-incremental dedup ingest: dedup one new batch against a
    persisted signature store (plans/incremental.py), write the
    accepted rows, commit the batch's identities to the store.
    ``--compact`` instead consolidates the store's identity dirs."""
    from datacanary_spark.plans.incremental import SignatureStore
    from datacanary_spark.sources.io import path_exists, read_table

    spark = _spark(args)
    if args.compact or args.describe:
        if not path_exists(spark, f"{args.store.rstrip('/')}/meta.json"):
            raise SystemExit(f"no store at {args.store!r} (meta.json "
                             f"not found)")
        store = SignatureStore.open(spark, args.store)
        out = store.compact() if args.compact else store.describe()
        print(json.dumps(out, sort_keys=True))
        return 0
    if args.input is None or args.output is None or args.batch_id is None:
        raise SystemExit("ingest requires --input/--output/--batch-id "
                         "(or --compact)")
    if path_exists(spark, f"{args.store.rstrip('/')}/meta.json"):
        store = SignatureStore.open(spark, args.store)
    else:
        store = SignatureStore.create(
            spark, args.store, threshold=args.threshold,
            hash_fn=args.hash_fn)
    docs = read_table(spark, args.input)
    accepted = store.ingest(docs, args.batch_id, id_col=args.id_col,
                            text_col=args.text_col)
    accepted.write.mode("overwrite").parquet(args.output)
    n_in = docs.count()
    n_out = spark.read.parquet(args.output).count()
    print(json.dumps({"batch_id": args.batch_id, "rows_in": n_in,
                      "accepted": n_out,
                      "committed_batches": store.committed_batches()}))
    return 0


def cmd_ingest_stream(args) -> int:
    """Streaming incremental ingest: drain available input files, one
    micro-batch = one store batch (streaming/ingest_stream.py)."""
    from datacanary_spark.plans.incremental import SignatureStore
    from datacanary_spark.streaming.ingest_stream import run_ingest_stream

    spark = _spark(args)
    run_ingest_stream(spark, args.input, args.store, args.output,
                      args.checkpoint, id_col=args.id_col,
                      text_col=args.text_col, threshold=args.threshold,
                      hash_fn=args.hash_fn,
                      max_files_per_trigger=args.max_files_per_trigger)
    store = SignatureStore.open(spark, args.store)
    print(json.dumps({"committed_batches": store.committed_batches()}))
    return 0


def parse_fractions(spec: str, max_value: float | None = 1.0,
                    flag: str = "--fractions") -> dict[str, float]:
    """Parse ``stratum=frac,…`` mixing specs (single validation point
    for the sample/curate CLI and jobs/curate_job.py). ``max_value``
    None lifts the upper bound for epoch-weight specs (--epochs), where
    weights above 1 mean replication; values must still be FINITE
    (nan/inf would pass a naive range check — `not 0 <= nan <= 1` is
    the only form that catches nan — and then crash deep inside the
    job's final sampling stage instead of at the command line).
    ``flag`` names the actual CLI flag in error messages."""
    import math

    out: dict[str, float] = {}
    for part in spec.split(","):
        stratum, sep, frac = part.partition("=")
        if not sep or not stratum:
            raise SystemExit(f"bad {flag} entry: {part!r} "
                             "(expected stratum=fraction)")
        try:
            f = float(frac)
        except ValueError:
            raise SystemExit(f"bad {flag} value in {part!r}: "
                             f"{frac!r} is not a number") from None
        if not math.isfinite(f) or f < 0.0 \
                or (max_value is not None and f > max_value):
            bound = (f"[0, {max_value}]" if max_value is not None
                     else "[0, inf)")
            raise SystemExit(f"{flag} value out of {bound} in {part!r}")
        if stratum in out:
            raise SystemExit(f"duplicate stratum in {flag}: {stratum!r}")
        out[stratum] = f
    return out


def cmd_sample(args) -> int:
    """Deterministic stratified sample (corpus mixing).

    --fractions is ``stratum=frac`` pairs, e.g. ``en=0.5,de=0.1``;
    --temperature ALPHA derives the fractions from the observed stratum
    counts instead (effective counts ∝ n^alpha, smallest stratum
    keeps 100%).
    """
    from datacanary_spark.operators.corpus_stats import (
        hash_stratified_sample,
        temperature_fractions,
    )
    from datacanary_spark.sources.io import read_table

    if (args.fractions is None) == (args.temperature is None):
        raise SystemExit("pass exactly one of --fractions / --temperature")
    spark = _spark(args)
    df = read_table(spark, args.input)
    if args.temperature is not None:
        fractions = temperature_fractions(df, args.strata_col,
                                          args.temperature,
                                          weight_col=args.weight_col)
    else:
        fractions = parse_fractions(args.fractions)
    out = hash_stratified_sample(df, args.strata_col, fractions,
                                 args.key_col, salt=args.salt,
                                 default_fraction=args.default_fraction)
    out.write.mode("overwrite").parquet(args.output)
    n_in, n_out = df.count(), spark.read.parquet(args.output).count()
    print(json.dumps({"rows_in": n_in, "rows_out": n_out,
                      "fractions": fractions}))
    return 0


def _quantizer_path(index_path: str) -> str:
    return index_path.rstrip("/") + "/_quantizers.json"


def cmd_ann_index(args) -> int:
    """Build the persisted IVFPQ ANN index (cell-partitioned codes).

    The quantizers — fitted on the corpus with ``--train`` (Spark-ML
    KMeans, optionally on a deterministic hash sample) or derived from
    the shared seed — are ALWAYS saved next to the index as
    ``_quantizers.json``; ann-query reads them back, so the
    same-arrays write/query contract can never be broken by a flag
    mismatch between the two invocations."""
    import numpy as np
    from pyspark.sql import functions as F

    from datacanary_spark.operators import similarity as sim
    from datacanary_spark.sources.io import read_table

    spark = _spark(args)
    df = read_table(spark, args.input)
    cents = books = None
    if args.train:
        cents = sim.train_ivf_centroids(
            df, vec_col=args.vec_col, n_centroids=args.n_centroids,
            sample_fraction=args.sample_fraction)
        pq_train_src = df
        if args.residual:
            # residual mode quantizes x - centroid[cell], so the
            # codebooks must be FITTED on residuals too (fitting them
            # on raw vectors wastes the whole code budget re-describing
            # the coarse structure the centroids already encode)
            res = sim.ivf_residual_expr(F.col(args.vec_col), cents)
            pq_train_src = (df.where(F.size(F.col(args.vec_col))
                                     == args.dim)
                              .select(res.alias(args.vec_col)))
        books = sim.train_pq_codebooks(
            pq_train_src, dim=args.dim, vec_col=args.vec_col,
            n_sub=args.n_sub, n_codes=args.n_codes,
            sample_fraction=args.sample_fraction)
    if not args.train:
        # same deterministic derivation ivfpq_write_index applies
        cents = sim.ivf_centroids(args.dim, args.n_centroids)
        books = sim.pq_codebooks(args.dim, args.n_sub, args.n_codes)
    sim.ivfpq_write_index(
        df, args.output, dim=args.dim, id_col=args.id_col,
        vec_col=args.vec_col, n_centroids=args.n_centroids,
        n_sub=args.n_sub, n_codes=args.n_codes,
        centroids=cents, codebooks=books, residual=args.residual)
    # ALWAYS persist the quantizers (trained or seeded) beside the
    # index — atomically, because a partial sidecar means silently
    # wrong serving results — so ann-query never depends on the user
    # re-typing matching flags
    from datacanary_spark.sources.io import write_text_atomic

    write_text_atomic(spark, _quantizer_path(args.output), json.dumps(
        {"dim": args.dim, "trained": bool(args.train),
         "residual": bool(args.residual),
         "centroids": np.asarray(cents).tolist(),
         "codebooks": np.asarray(books).tolist()}, sort_keys=True))
    idx = spark.read.parquet(args.output)
    row = idx.agg(F.count(F.lit(1)).alias("rows"),
                  F.countDistinct("cell").alias("cells")).collect()[0]
    summary = {"rows": row["rows"], "cells": row["cells"],
               "n_sub": args.n_sub, "n_codes": args.n_codes,
               "trained": bool(args.train),
               "residual": bool(args.residual)}
    print(json.dumps(summary, sort_keys=True))
    return 0


def cmd_ann_query(args) -> int:
    """Serve top-k from a persisted ANN index (partition-pruned probe).

    Reads the ``_quantizers.json`` sidecar ann-index always writes; a
    library-written index without one falls back to the seeded arrays.
    A sidecar that EXISTS but cannot be read or parsed is a hard
    error — silently decoding trained codes with seeded codebooks
    would serve garbage neighbors with exit 0."""
    import numpy as np

    from datacanary_spark.operators import similarity as sim
    from datacanary_spark.sources.io import path_exists, read_table, read_text

    spark = _spark(args)
    queries = read_table(spark, args.queries)
    cents = books = None
    residual = False
    qp = _quantizer_path(args.index)
    if path_exists(spark, qp):
        # Hadoop-FS read, NOT spark.read.text: Spark's file index
        # silently ignores underscore-prefixed sidecars. Parse
        # strictly and assign both arrays together — a half-assigned
        # trained-centroids/seeded-codebooks state must be impossible.
        try:
            saved = json.loads(read_text(spark, qp))
            loaded = (np.asarray(saved["centroids"], dtype=np.float64),
                      np.asarray(saved["codebooks"], dtype=np.float64))
        except Exception as exc:
            raise SystemExit(
                f"ann-query: {qp} exists but is unreadable/corrupt "
                f"({exc}) — refusing to fall back to seeded "
                f"quantizers; rebuild the index or remove the "
                f"sidecar if it is genuinely stale") from exc
        cents, books = loaded
        # the on-disk codes were produced under this flag — the
        # sidecar, not a query-side flag, is authoritative
        residual = bool(saved.get("residual", False))
    out = sim.ivfpq_query_index(
        spark, args.index, queries, dim=args.dim, k=args.k,
        id_col=args.id_col, vec_col=args.vec_col,
        query_id_col=args.query_id_col, n_centroids=args.n_centroids,
        n_probe=args.n_probe, n_sub=args.n_sub, n_codes=args.n_codes,
        centroids=cents, codebooks=books, residual=residual)
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"result_rows": n, "k": args.k,
                      "n_probe": args.n_probe, "residual": residual,
                      "sidecar_quantizers": cents is not None},
                     sort_keys=True))
    return 0


def parse_blocklist_arg(arg: str | None) -> list[str] | str | None:
    """``--blocklist`` disambiguation: a path separator or an existing
    local file/dir means a table path handed to read_table; otherwise a
    comma-separated inline domain list (a single domain is a list of
    one). The local-existence check catches the silent-no-op trap: a
    bare cwd-relative table name like ``domains.parquet`` would parse
    as a one-entry "domain" that no host ever matches, and the job
    would complete reporting the blocklist applied."""
    if arg is None:
        return None
    if "/" in arg or os.path.exists(arg):
        return arg
    return [d.strip() for d in arg.split(",") if d.strip()]


def cmd_curate(args) -> int:
    """Composed curation pipeline: filter → dedup → mix (plans/curate)."""
    from datacanary_spark.plans.curate import run_curation_job

    fractions = parse_fractions(args.fractions) if args.fractions else None
    spark = _spark(args)
    summary = run_curation_job(
        spark, args.input, args.output, fractions=fractions,
        strata_col=args.strata_col, key_col=args.key_col,
        line_dedup=not args.no_line_dedup,
        line_dedup_unit=args.line_dedup_unit,
        near_dup_threshold=args.near_dup_threshold,
        near_dup_keep=args.near_dup_keep,
        block_url_patterns=args.block_url_patterns,
        robots_table=args.robots_table,
        robots_agent=args.robots_agent,
        normalize_unicode=args.normalize,
        fix_encoding=args.fix_encoding,
        span_dedup_k=args.span_dedup_k,
        span_min_count=args.span_min_count,
        extract_from_html=args.from_html,
        input_format=args.input_format,
        extractor=args.extractor,
        http_ok_only=not args.keep_http_errors,
        decontaminate_path=args.decontaminate_against,
        decontaminate_mode=args.decontaminate_mode,
        blocklist=parse_blocklist_arg(args.blocklist),
        host_cap=args.host_cap,
        classifier_model=args.classifier_model,
        classifier_threshold=args.classifier_threshold,
        classifier_keep_fraction=args.classifier_keep_fraction,
        gopher_repetition=args.gopher_repetition,
        max_code_line_fraction=args.max_code_line_fraction,
        min_compression_ratio=args.min_compression_ratio,
        badwords=parse_blocklist_arg(args.badwords),
        badword_max_fraction=args.badword_max_fraction,
        c4_clean=args.c4_clean,
        c4_min_line_words=args.c4_min_line_words,
        c4_require_terminal=not args.c4_no_terminal_punct,
        dsir_target_path=args.dsir_target,
        dsir_keep_fraction=args.dsir_keep_fraction,
        temperature=args.temperature,
        temperature_weight_col=args.temperature_weight_col,
        epoch_weights=(parse_fractions(args.epochs, max_value=None,
                                       flag="--epochs")
                       if args.epochs else None),
        stage_pin=args.stage_pin)
    print(json.dumps(summary, sort_keys=True))
    return 0


def _shard_manifest(spark, output: str, fmt: str,
                    data_schema=None) -> dict:
    """Per-(split, shard) manifest of a written export: doc count, text
    chars, whitespace-token count, and an order-insensitive 64-bit
    content checksum (bit_xor of xxhash64 over every column's JSON form
    — partition- and run-invariant because xor commutes).

    Computed by READING BACK the written artifact (one narrow scan +
    tiny aggregate, no shuffle of the corpus): the manifest must
    describe the bytes a training loader will actually see, and the
    read-back avoids re-executing the shard Exchange a second time.
    """
    from pyspark.sql import functions as F

    from datacanary_spark.operators.text_analysis import token_count_ws

    if fmt == "parquet":
        out_df = spark.read.parquet(output)
    elif data_schema is not None:
        # the writer's own schema, minus the partition columns Spark
        # re-derives from the split=/shard= directory names.  Inference
        # is wrong here even at samplingRatio 1.0: the JSON writer drops
        # null fields, so an all-null column would silently vanish from
        # the manifest's checksum and counts.
        from pyspark.sql import types as T

        data_fields = [f for f in data_schema.fields
                       if f.name not in ("split", "shard")]
        out_df = spark.read.schema(T.StructType(data_fields)).json(output)
    else:
        # no caller-threaded schema (direct invocation): full-scan
        # inference — still blind to all-null columns, but not to
        # sampling luck
        out_df = spark.read.option("samplingRatio", 1.0).json(output)
    data_cols = sorted(c for c in out_df.columns
                       if c not in ("split", "shard"))
    # ignoreNullFields=false: to_json otherwise DROPS null fields, so a
    # null cell and an absent column would serialize identically and the
    # checksum could not distinguish two exports differing only in an
    # all-null column (the same blindness the threaded read-back schema
    # fixes for the counts)
    row_json = F.to_json(F.struct(*[F.col(c) for c in data_cols]),
                         {"ignoreNullFields": "false"})
    aggs = [F.count(F.lit(1)).alias("docs"),
            F.bit_xor(F.xxhash64(row_json)).alias("xor64")]
    if "text" in out_df.columns:
        aggs.append(F.coalesce(F.sum(F.length("text")), F.lit(0))
                    .cast("long").alias("chars"))
        # the repo-wide whitespace tokenization contract — shared with
        # the dataset card so the two ws_tokens never drift
        aggs.append(F.coalesce(F.sum(token_count_ws(F.col("text"))),
                               F.lit(0)).cast("long").alias("ws_tokens"))
    rows = (out_df.groupBy("split", "shard").agg(*aggs)
            .orderBy("split", "shard").collect())
    shards = [dict(r.asDict()) for r in rows]
    for s in shards:  # JSON-safe: xor64 may exceed 2^53 but stays int
        # null-key docs write the null (split, shard) partition — the
        # manifest reports that bucket as nulls, same as the layout
        s["shard"] = int(s["shard"]) if s["shard"] is not None else None
        s["xor64"] = int(s["xor64"]) if s["xor64"] is not None else None
    totals = {"docs": sum(s["docs"] for s in shards)}
    if shards and "chars" in shards[0]:
        totals["chars"] = sum(s["chars"] for s in shards)
        totals["ws_tokens"] = sum(s["ws_tokens"] for s in shards)
    return {"format": fmt, "shards": shards, "totals": totals}


def cmd_export(args) -> int:
    """Training-data export: deterministic split + global shuffle +
    sharded write. Output layout ``output/split=S/shard=K/part-*`` —
    one sorted file per (split, shard); every placement is a pure
    function of the key, so re-runs and cluster moves emit
    byte-identical shards and later ingests never move a doc across
    the split boundary."""
    from pyspark.sql import functions as F

    from datacanary_spark.operators.corpus_stats import (
        _validated_fractions,
        shuffle_to_shards,
        split_assign,
        write_shards,
    )
    from datacanary_spark.sources.io import read_table

    fractions = parse_fractions(args.split, flag="--split")
    try:
        # fail on a bad split spec (sum != 1, zero fraction) BEFORE
        # paying JVM startup, with a clean usage error like every
        # other flag-validation path
        _validated_fractions(fractions)
    except ValueError as e:
        raise SystemExit(f"--split: {e}")
    if args.bpe_merges < 0:
        # same fail-fast contract as --split: reject before JVM startup
        # instead of surfacing learn_bpe_merges' ValueError mid-job
        raise SystemExit(f"--bpe-merges: must be >= 0, "
                         f"got {args.bpe_merges}")
    if args.unigram_vocab < 0:
        raise SystemExit(f"--unigram-vocab: must be >= 0, "
                         f"got {args.unigram_vocab}")
    tags = args.tag or [f"corpus{i}" for i in range(len(args.input))]
    if len(tags) != len(args.input):
        raise SystemExit(f"--tag: got {len(tags)} tags for "
                         f"{len(args.input)} --input values")
    if len(set(tags)) != len(tags):
        raise SystemExit(f"--tag: tags must be unique: {tags}")
    spark = _spark(args)
    key_col = args.key_col
    if len(args.input) == 1:
        # single corpus: key and output schema unchanged (placement
        # byte-compatible with prior exports of the same corpus); an
        # explicit --tag still lands as the corpus column so one-at-a-
        # time exports carry the same accounting as mixtures
        df = read_table(spark, args.input[0])
        if args.tag:
            df = df.withColumn("corpus", F.lit(tags[0]))
    else:
        # mixture-of-sources export: tag every corpus and mix the tag
        # into the placement key, so same-key docs from different
        # corpora get independent placement instead of colliding. The
        # composite key must stay NULL for a NULL doc key — concat_ws
        # SKIPS nulls (it would bucket every null-key doc at md5(tag),
        # clumping them into one real split) — so the null is re-guarded
        # explicitly, preserving the single-corpus null_key contract.
        parts = []
        first_cols = None
        for path, tag in zip(args.input, tags):
            one = read_table(spark, path)
            if first_cols is None:
                first_cols = set(one.columns)
            elif set(one.columns) != first_cols:
                missing = sorted(first_cols - set(one.columns))
                extra = sorted(set(one.columns) - first_cols)
                raise SystemExit(
                    f"--input {path} (tag {tag!r}) schema differs from "
                    f"the first corpus: missing {missing}, extra {extra}"
                    f" — align the corpora before exporting one mixture")
            k = F.col(args.key_col)
            composite = F.when(
                k.isNull(), F.lit(None).cast("string")).otherwise(
                F.concat_ws("\x1f", F.lit(tag), k.cast("string")))
            parts.append(one.withColumn("corpus", F.lit(tag))
                            .withColumn("_export_key", composite))
        df = parts[0]
        for p_ in parts[1:]:
            df = df.unionByName(p_)
        key_col = "_export_key"
    merges: list = []
    if args.bpe_merges:
        # train-the-tokenizer-with-the-export: learn the merge table on
        # the exact (mixed) corpus being shipped, tokenize every doc
        # with it, and ship the table alongside the shards. Both steps
        # are deterministic, so re-exports are byte-identical here too.
        from datacanary_spark.operators.bpe import (
            apply_bpe,
            learn_bpe_merges,
        )
        if args.bpe_text_col not in df.columns:
            raise SystemExit(f"--bpe-merges: column "
                             f"{args.bpe_text_col!r} not in the corpus")
        merges = learn_bpe_merges(df, num_merges=args.bpe_merges,
                                  text_col=args.bpe_text_col)
        df = (apply_bpe(df, merges, text_col=args.bpe_text_col)
              .withColumn("n_bpe_tokens", F.size("bpe_tokens")))
    lexicon: dict = {}
    if args.unigram_vocab:
        # the Unigram-LM sibling of --bpe-merges: same ship-the-
        # tokenizer-with-the-data contract, same determinism
        from datacanary_spark.operators.unigram import (
            apply_unigram,
            train_unigram,
        )
        if args.bpe_text_col not in df.columns:
            raise SystemExit(f"--unigram-vocab: column "
                             f"{args.bpe_text_col!r} not in the corpus")
        lexicon = train_unigram(df, vocab_size=args.unigram_vocab,
                                text_col=args.bpe_text_col)
        df = (apply_unigram(df, lexicon, text_col=args.bpe_text_col)
              .withColumn("n_unigram_tokens", F.size("unigram_tokens")))
    assigned = split_assign(df, key_col, fractions,
                            salt=args.split_salt)
    # lineage pass over the PRE-shuffle assignment (scan + CASE only —
    # counting the sharded frame would execute the md5 Exchange twice).
    # Seed every configured split so an empty one is visibly 0, and
    # count NULL keys (null split/shard by design) separately.
    counts: dict = {name: 0 for name in fractions}
    counts["null_key"] = 0
    by_corpus: dict = {}
    group_cols = ["split"] + (["corpus"] if "corpus" in df.columns
                              else [])
    for r in (assigned.groupBy(*group_cols)
              .agg(F.count(F.lit(1)).alias("n")).collect()):
        name = "null_key" if r["split"] is None else r["split"]
        counts[name] = counts.get(name, 0) + r["n"]
        if "corpus" in group_cols:
            by_corpus[r["corpus"]] = by_corpus.get(r["corpus"], 0) + r["n"]
    staged = shuffle_to_shards(assigned, key_col, args.n_shards,
                               salt=args.shuffle_salt)
    if key_col == "_export_key":
        staged = staged.drop("_export_key")
    # one sorted file per (split, shard) — write_shards owns the
    # layout contract (including the write-time sort pinning)
    write_shards(staged, args.output, partition_cols=("split", "shard"),
                 fmt=args.output_format)
    summary = {"output": args.output, "splits": counts,
               "n_shards": args.n_shards, "format": args.output_format}
    if not args.no_manifest:
        manifest = _shard_manifest(spark, args.output, args.output_format,
                                   data_schema=staged.schema)
        from datacanary_spark.sources.io import write_text
        write_text(spark, args.output.rstrip("/") + "/_manifest.json",
                   json.dumps(manifest, sort_keys=True))
        summary["manifest_shards"] = len(manifest["shards"])
    if by_corpus:
        summary["by_corpus"] = by_corpus
    if args.bpe_merges:
        from datacanary_spark.sources.io import write_text
        write_text(spark, args.output.rstrip("/") + "/_bpe_merges.json",
                   json.dumps([list(m) for m in merges]))
        summary["bpe_merges"] = len(merges)
    if args.unigram_vocab:
        from datacanary_spark.sources.io import write_text
        write_text(spark, args.output.rstrip("/") + "/_unigram_lexicon.json",
                   json.dumps(lexicon, sort_keys=True))
        summary["unigram_lexicon"] = len(lexicon)
    print(json.dumps(summary, sort_keys=True))
    return 0


def cmd_corpus_report(args) -> int:
    """Dataset-card markdown for a curated corpus (plans/report_card):
    size, composition, diversity, top hosts, curation provenance."""
    from datacanary_spark.plans.report_card import build_dataset_card

    spark = _spark(args)
    card = build_dataset_card(spark, args.input, lang_col=args.lang_col,
                              title=args.title)
    if args.output:
        with open(args.output, "w") as f:
            f.write(card)
        print(f"card written to {args.output}")
    else:
        print(card)
    return 0


def cmd_train_classifier(args) -> int:
    """Train the expression-inference quality classifier on a labeled
    parquet table and save the coefficient JSON (plans/classifier)."""
    from datacanary_spark.plans.classifier import (
        save_classifier,
        train_quality_classifier,
    )
    from datacanary_spark.sources.io import read_table

    spark = _spark(args)
    df = read_table(spark, args.input)
    from datacanary_spark.plans.classifier import (
        EXTENDED_FEATURE_NAMES,
        FEATURE_NAMES,
    )

    clf = train_quality_classifier(
        df, label_col=args.label_col, text_col=args.text_col,
        max_iter=args.max_iter, reg_param=args.reg_param,
        feature_names=(EXTENDED_FEATURE_NAMES
                       if args.feature_set == "extended"
                       else FEATURE_NAMES))
    save_classifier(spark, clf, args.output)
    print(json.dumps({"model": args.output,
                      "features": list(clf.feature_names),
                      "intercept": clf.intercept}))
    return 0


def cmd_gen_pages(args) -> int:
    import math

    from datacanary_spark.sources.fixtures import write_pages_parquet

    if args.docs < 1 or args.files < 1:
        print("gen-pages: --docs and --files must be >= 1", file=sys.stderr)
        return 2
    chunk = math.ceil(args.docs / args.files)
    write_pages_parquet(args.output, args.docs, seed=args.seed, chunk_size=chunk)
    n_files = math.ceil(args.docs / chunk)
    print(f"wrote {args.docs} pages to {args.output} ({n_files} files)")
    return 0


def cmd_package(args) -> int:
    """Build the --py-files zip for spark-submit."""
    import os
    import zipfile

    import datacanary_spark

    pkg_dir = os.path.dirname(datacanary_spark.__file__)
    os.makedirs(args.dest, exist_ok=True)
    zip_path = os.path.join(args.dest, "datacanary_spark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    print(zip_path)
    return 0


def _print_profile(profile: dict) -> None:
    for col, info in profile.items():
        print(f"\n== {col} ({info['type']})")
        for stat, val in sorted(info["stats"].items()):
            print(f"   {stat}: {val}")


def _add_provider_flags(p) -> None:
    """Reference-parity cloud source flags (__main__.py:62-109)."""
    p.add_argument("--bucket", default=None, help="S3 bucket name")
    p.add_argument("--key", default=None, help="S3 object key")
    p.add_argument("--profile", default=None, help="AWS profile name")
    p.add_argument("--region", default=None, help="AWS region")
    p.add_argument("--azure-container", default=None)
    p.add_argument("--azure-blob", default=None)
    p.add_argument("--azure-connection-string", default=None)
    p.add_argument("--azure-account-url", default=None)
    p.add_argument("--azure-account-key", default=None)
    p.add_argument("--gcs-bucket", default=None)
    p.add_argument("--gcs-blob", default=None)
    p.add_argument("--gcs-credentials", default=None,
                   help="path to GCS service-account JSON key")
    p.add_argument("--gcs-project", default=None)
    p.add_argument("--credentials-file", default=None,
                   help="reference-format credential file: s3 CSV "
                        "(header, then access_key,secret_key), azure "
                        "JSON (connection_string/account_url+account_"
                        "key), or a GCS service-account JSON keyfile")


def build_parser() -> argparse.ArgumentParser:
    from datacanary_spark import __version__

    p = argparse.ArgumentParser(prog="datacanary_spark")
    p.add_argument("--version", action="version",
                   version=f"datacanary_spark v{__version__}")
    p.add_argument("--master", default=None, help="spark master override")
    sub = p.add_subparsers(dest="command", required=True)

    a = sub.add_parser("analyse", help="profile a parquet dataset")
    a.add_argument("--file", default=None,
                   help="local path or any URI (s3a://, abfss://, gs://)")
    _add_provider_flags(a)
    a.add_argument("--output", default=None, help="write profile JSON here")
    a.add_argument("--approx", action="store_true",
                   help="HLL distinct counts (10^12-row mode)")
    a.set_defaults(fn=cmd_analyse)

    c = sub.add_parser("check", help="profile + rule verdicts + report")
    c.add_argument("--file", default=None,
                   help="local path or any URI (s3a://, abfss://, gs://)")
    _add_provider_flags(c)
    c.add_argument("--rules", default=None, help="YAML/JSON rule config")
    c.add_argument("--report", default=None)
    c.add_argument("--json", default=None)
    c.add_argument("--approx", action="store_true")
    c.set_defaults(fn=cmd_check)

    # literal-name parity with the reference's local subcommands
    # (__main__.py:84-86,112-116) — same code path as --file; the
    # reference's check-local --json crashes on an undefined args.key
    # (":593 vs :112-116"), which we deliberately do not replicate
    al = sub.add_parser("analyse-local",
                        help="profile a local parquet file")
    al.add_argument("--file", required=True, help="path to parquet")
    al.add_argument("--output", default=None, help="write profile JSON here")
    al.add_argument("--approx", action="store_true")
    al.set_defaults(fn=cmd_analyse)

    cl = sub.add_parser("check-local",
                        help="profile + rule verdicts on a local file")
    cl.add_argument("--file", required=True, help="path to parquet")
    cl.add_argument("--rules", default=None, help="YAML/JSON rule config")
    cl.add_argument("--report", default=None)
    cl.add_argument("--json", default=None)
    cl.add_argument("--approx", action="store_true")
    cl.set_defaults(fn=cmd_check)

    f = sub.add_parser("filter", help="web-text quality-filter job")
    f.add_argument("--input", required=True)
    f.add_argument("--output", required=True)
    f.add_argument("--chunks", type=int, default=4)
    f.add_argument("--buckets", type=int, default=None)
    f.add_argument("--from-html", action="store_true")
    f.add_argument("--input-format",
                   choices=["parquet", "jsonl", "warc", "wet"],
                   default="parquet",
                   help="pages parquet (default), raw WARC crawls "
                        "(response bodies -> html; use --from-html "
                        "--extractor real), or WET extracted text")
    f.add_argument("--extractor", choices=["wrapper", "real"],
                   default="wrapper",
                   help="html->text UDF for --from-html: the fixture "
                        "byte-identity wrapper or the real tag/entity "
                        "extractor (functions/htmltext.py)")
    f.add_argument("--structure-rules", action="store_true",
                   help="add page-structure rules from raw html to the "
                        "verdict (robots noindex, link-farm density; "
                        "operators/html_signals.py)")
    f.add_argument("--keep-http-errors", action="store_true",
                   help="warc/wet input: keep records whose HTTP status "
                        "is not 2xx (default drops them — a crawl's "
                        "404/500 bodies are not corpus pages)")
    f.set_defaults(fn=cmd_filter)

    d = sub.add_parser("dedup", help="corpus dedup (exact/lines/near)")
    d.add_argument("--input", required=True)
    d.add_argument("--output", required=True)
    d.add_argument("--mode", choices=["exact", "lines", "near"],
                   default="exact")
    d.add_argument("--id-col", default="doc_id")
    d.add_argument("--text-col", default="text")
    d.add_argument("--threshold", type=float, default=0.7,
                   help="near mode: Jaccard threshold")
    d.add_argument("--bands", type=_bands_arg, default="auto",
                   help="near mode: LSH band count, or 'auto' (default) to "
                        "calibrate the banding S-curve to --threshold — a "
                        "fixed band count is only correct near its own "
                        "inflection point")
    d.add_argument("--hash-fn", choices=["md5", "xxhash64"], default="md5",
                   help="near mode: xxhash64 is the cluster-scale mode")
    d.set_defaults(fn=cmd_dedup)

    md = sub.add_parser(
        "dedup-media",
        help="perceptual near-dup over a (media_id, kind, payload) "
             "table: image dHash, video shared-frame, audio envelope")
    md.add_argument("--input", required=True)
    md.add_argument("--output", required=True)
    md.add_argument("--keep", choices=["largest", "min-id"],
                    default="largest",
                    help="survivor per cluster: largest payload "
                         "(highest-quality copy) or smallest id")
    md.add_argument("--image-distance", type=int, default=2,
                    help="max hamming distance for image dHash pairs")
    md.add_argument("--audio-distance", type=int, default=2,
                    help="max hamming distance for audio envelope pairs")
    md.add_argument("--video-min-shared", type=int, default=3,
                    help="min shared frame hashes for a video pair")
    md.add_argument("--frame-stride", type=int, default=1,
                    help="hash every Nth video frame")
    md.add_argument("--max-frames", type=int, default=None,
                    help="cap hashed frames per video")
    md.set_defaults(fn=cmd_dedup_media)

    ing = sub.add_parser(
        "ingest",
        help="batch-incremental dedup against a persisted signature store")
    ing.add_argument("--store", required=True,
                     help="store root dir (created on first use)")
    ing.add_argument("--input", default=None)
    ing.add_argument("--output", default=None,
                     help="parquet dir for this batch's accepted rows")
    ing.add_argument("--batch-id", type=int, default=None,
                     help="monotonically increasing batch number")
    ing.add_argument("--compact", action="store_true",
                     help="consolidate the store's per-batch identity "
                          "dirs instead of ingesting")
    ing.add_argument("--describe", action="store_true",
                     help="print the store's parameters, batch ledger "
                          "and identity counts instead of ingesting")
    ing.add_argument("--id-col", default="doc_id")
    ing.add_argument("--text-col", default="text")
    ing.add_argument("--threshold", type=float, default=0.7,
                     help="signature-estimate Jaccard threshold "
                          "(pinned at store creation)")
    ing.add_argument("--hash-fn", choices=["md5", "xxhash64"], default="md5",
                     help="pinned at store creation; xxhash64 is the "
                          "cluster-scale mode")
    ing.set_defaults(fn=cmd_ingest)

    ist = sub.add_parser(
        "ingest-stream",
        help="streaming incremental ingest (AvailableNow drain; each "
             "micro-batch becomes one store batch)")
    ist.add_argument("--store", required=True)
    ist.add_argument("--input", required=True)
    ist.add_argument("--output", required=True)
    ist.add_argument("--checkpoint", required=True,
                     help="Spark streaming checkpoint dir (tracks which "
                          "input files each batch consumed)")
    ist.add_argument("--id-col", default="doc_id")
    ist.add_argument("--text-col", default="text")
    ist.add_argument("--threshold", type=float, default=0.7)
    ist.add_argument("--hash-fn", choices=["md5", "xxhash64"],
                     default="md5")
    ist.add_argument("--max-files-per-trigger", type=int, default=None)
    ist.set_defaults(fn=cmd_ingest_stream)

    s = sub.add_parser("sample", help="deterministic stratified sample")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--strata-col", required=True)
    s.add_argument("--fractions", default=None,
                   help="stratum=fraction pairs, e.g. en=0.5,de=0.1")
    s.add_argument("--temperature", type=float, default=None,
                   help="derive fractions from stratum counts: "
                        "effective counts ∝ n^alpha (alpha in [0,1])")
    s.add_argument("--weight-col", default=None,
                   help="temperature mode: weight the stratum mass by "
                        "this column's sum instead of doc count")
    s.add_argument("--key-col", required=True,
                   help="column whose hash decides membership")
    s.add_argument("--salt", default="sample")
    s.add_argument("--default-fraction", type=float, default=0.0)
    s.set_defaults(fn=cmd_sample)

    ab = sub.add_parser("ann-index",
                        help="build a persisted IVFPQ ANN index "
                             "(cell-partitioned PQ codes)")
    ab.add_argument("--input", required=True)
    ab.add_argument("--output", required=True)
    ab.add_argument("--dim", type=int, required=True)
    ab.add_argument("--id-col", default="vec_id")
    ab.add_argument("--vec-col", default="embedding")
    ab.add_argument("--n-centroids", type=int, default=16)
    ab.add_argument("--n-sub", type=int, default=8)
    ab.add_argument("--n-codes", type=int, default=16)
    ab.add_argument("--train", action="store_true",
                    help="fit centroids + codebooks on the corpus and "
                         "save them beside the index")
    ab.add_argument("--residual", action="store_true",
                    help="FAISS-style residual PQ: quantize "
                         "x - centroid[cell] (better within-cluster "
                         "ranking on clustered corpora); recorded in "
                         "the sidecar, ann-query applies it "
                         "automatically")
    ab.add_argument("--sample-fraction", type=float, default=None,
                    help="train on a deterministic hash sample")
    ab.set_defaults(fn=cmd_ann_index)

    aq = sub.add_parser("ann-query",
                        help="top-k from a persisted ANN index "
                             "(partition-pruned probe)")
    aq.add_argument("--index", required=True)
    aq.add_argument("--queries", required=True,
                    help="parquet of (query_id, embedding)")
    aq.add_argument("--output", required=True)
    aq.add_argument("--dim", type=int, required=True)
    aq.add_argument("--k", type=int, default=5)
    aq.add_argument("--n-probe", type=int, default=4)
    aq.add_argument("--id-col", default="vec_id")
    aq.add_argument("--vec-col", default="embedding")
    aq.add_argument("--query-id-col", default="query_id")
    aq.add_argument("--n-centroids", type=int, default=16)
    aq.add_argument("--n-sub", type=int, default=8)
    aq.add_argument("--n-codes", type=int, default=16)
    aq.set_defaults(fn=cmd_ann_query)

    ex = sub.add_parser(
        "export",
        help="training-data export: split + global shuffle + sharded "
             "write (output/split=S/shard=K, one sorted file per shard)")
    ex.add_argument("--input", required=True, action="append",
                    help="corpus table/dir; repeatable — multiple "
                         "inputs are tagged (--tag) and interleaved "
                         "into one deterministic shard stream (the "
                         "mixture-of-sources training export)")
    ex.add_argument("--tag", action="append", default=None,
                    help="corpus tag per --input (same order; default "
                         "corpus0, corpus1, ...); written as a "
                         "'corpus' column and mixed into the placement "
                         "key so same-key docs from different corpora "
                         "never collide")
    ex.add_argument("--output", required=True)
    ex.add_argument("--key-col", default="url",
                    help="unique doc key; drives BOTH the split and the "
                         "shuffle permutation (default url)")
    ex.add_argument("--split", default="train=0.98,val=0.01,test=0.01",
                    help="ordered name=fraction pairs summing to 1.0")
    ex.add_argument("--n-shards", type=int, default=16)
    ex.add_argument("--split-salt", default="split")
    ex.add_argument("--shuffle-salt", default="shuffle")
    ex.add_argument("--output-format", choices=["parquet", "jsonl"],
                    default="parquet",
                    help="jsonl = gzipped JSON-lines shards (binary "
                         "columns base64d, the read_pages_jsonl wire "
                         "form) for loaders that stream text directly")
    ex.add_argument("--bpe-merges", type=int, default=0,
                    help="learn N BPE merges on the (mixed) corpus and "
                         "ship the tokenizer with the data: adds "
                         "bpe_tokens + n_bpe_tokens columns to every "
                         "shard and writes the ordered merge list to "
                         "output/_bpe_merges.json (deterministic — "
                         "re-exports learn the identical table)")
    ex.add_argument("--bpe-text-col", default="text",
                    help="column --bpe-merges/--unigram-vocab train on "
                         "and tokenize")
    ex.add_argument("--no-manifest", action="store_true",
                    help="skip writing _manifest.json (per-shard doc/"
                         "token counts + order-insensitive content "
                         "checksums, computed by reading back the "
                         "written shards)")
    ex.add_argument("--unigram-vocab", type=int, default=0,
                    help="train a SentencePiece-style Unigram-LM lexicon "
                         "of <= N tokens (plus required single chars) on "
                         "the (mixed) corpus and ship it with the data: "
                         "adds unigram_tokens + n_unigram_tokens columns "
                         "and writes the {token: logprob} map to "
                         "output/_unigram_lexicon.json (deterministic). "
                         "Composable with --bpe-merges — each adds its "
                         "own columns")
    ex.set_defaults(fn=cmd_export)

    cr = sub.add_parser("corpus-report",
                        help="dataset-card markdown for a curated "
                             "corpus (size, composition, diversity, "
                             "provenance)")
    cr.add_argument("--input", required=True,
                    help="curate output dir (corpus/ + summary) or any "
                         "corpus table")
    cr.add_argument("--output", default=None,
                    help="write the markdown here (default: stdout)")
    cr.add_argument("--lang-col", default="lang_pred")
    cr.add_argument("--title", default=None)
    cr.set_defaults(fn=cmd_corpus_report)

    cu = sub.add_parser("curate",
                        help="filter + dedup + mix end-to-end corpus job")
    cu.add_argument("--input", required=True)
    cu.add_argument("--output", required=True)
    cu.add_argument("--fractions", default=None,
                    help="optional mixing, e.g. en=1.0,de=0.5")
    cu.add_argument("--strata-col", default="lang_pred")
    cu.add_argument("--key-col", default="url")
    cu.add_argument("--no-line-dedup", action="store_true")
    cu.add_argument("--stage-pin", choices=["auto", "persist",
                                            "checkpoint"],
                    default="auto",
                    help="stage-boundary pin: persist keeps lineage "
                         "recovery (short pipelines), checkpoint "
                         "truncates the plan (long compositions would "
                         "otherwise OOM the driver); auto switches at "
                         "6 enabled stages")
    cu.add_argument("--line-dedup-unit", choices=["line", "paragraph"],
                    default="line",
                    help="dedup unit for the corpus-wide first-"
                         "occurrence pass: paragraph removes repeated "
                         "blank-line-separated blocks whole "
                         "(RefinedWeb/Dolma granularity)")
    cu.add_argument("--near-dup-threshold", type=float, default=None,
                    help="enable transitive near-dup dedup: MinHash-LSH "
                         "pairs at this Jaccard threshold, clustered by "
                         "connected components, one survivor per cluster")
    cu.add_argument("--block-url-pattern", action="append", default=None,
                    dest="block_url_patterns", metavar="REGEX",
                    help="drop docs whose url matches this regex "
                         "(repeatable; path/query component of UT1-style "
                         "blocklists — domains go in --blocklist). Pure "
                         "column predicate, applied before extraction")
    cu.add_argument("--robots-table", default=None,
                    help="path to a (host, robots_txt) table: enforce "
                         "RFC 9309 crawl policy — drop docs whose url "
                         "path the host's robots.txt disallows for "
                         "--robots-agent (rules broadcast per host, "
                         "longest-match/allow-tie precedence)")
    cu.add_argument("--robots-agent", default="*",
                    help="user-agent product token for --robots-table "
                         "group selection (default '*')")
    cu.add_argument("--normalize", default=None,
                    choices=["NFC", "NFKC"],
                    help="unicode-normalize the text column before the "
                         "filter (pandas-UDF unicodedata; composed "
                         "spellings dedup together)")
    cu.add_argument("--fix-encoding", action="store_true",
                    help="repair UTF-8-as-Latin-1/cp1252 mojibake "
                         "before normalization (round-trip re-decode; "
                         "invalid round-trips left untouched)")
    cu.add_argument("--near-dup-keep", default="min-id",
                    choices=["min-id", "longest"],
                    help="survivor rule per near-dup cluster: min-id "
                         "(default, cheapest) or longest (keep the copy "
                         "with the most text — the 'best copy' pattern; "
                         "custom rankings via graph.cluster_survivors)")
    cu.add_argument("--span-dedup-k", type=int, default=None,
                    help="enable repeated-span removal: every k-token "
                         "window repeated corpus-wide is removed except "
                         "its first occurrence")
    cu.add_argument("--span-min-count", type=int, default=2,
                    help="occurrences needed before a window counts as "
                         "repeated (default 2)")
    cu.add_argument("--from-html", action="store_true")
    cu.add_argument("--input-format",
                    choices=["parquet", "jsonl", "warc", "wet"],
                    default="parquet",
                    help="pages parquet (default), or curate straight "
                         "from crawl containers: raw WARC (use "
                         "--from-html --extractor real) or WET text")
    cu.add_argument("--extractor", choices=["wrapper", "real"],
                    default="wrapper",
                    help="html->text UDF for --from-html (as in filter)")
    cu.add_argument("--keep-http-errors", action="store_true",
                    help="warc/wet input: keep non-2xx records "
                         "(default drops them)")
    cu.add_argument("--decontaminate-against", default=None,
                    help="benchmark table (text column); overlapping "
                         "docs are removed")
    cu.add_argument("--decontaminate-mode",
                    choices=["exact", "winnow", "bloom", "ngrams",
                             "minhash"],
                    default="winnow")
    cu.add_argument("--blocklist", default=None,
                    help="domain blocklist: comma-separated domains, or "
                         "a table path with a 'domain' column; docs whose "
                         "url host (or any parent domain) is listed are "
                         "dropped before any content processing")
    cu.add_argument("--host-cap", type=int, default=None,
                    help="keep at most N docs per url host "
                         "(deterministic anti-spam cap)")
    cu.add_argument("--classifier-model", default=None,
                    help="JSON coefficient bundle from train-classifier; "
                         "docs scoring below the threshold are dropped")
    cu.add_argument("--classifier-threshold", type=float, default=0.5)
    cu.add_argument("--classifier-keep-fraction", type=float, default=None,
                    help="DCLM-style selection: keep the top fraction "
                         "of docs by classifier score instead of the "
                         "fixed probability threshold")
    cu.add_argument("--gopher-repetition", action="store_true",
                    help="drop docs violating the Gopher char-weighted "
                         "repetition thresholds (top-2/3/4-gram, "
                         "dup-5..10-gram char fractions)")
    cu.add_argument("--max-code-line-fraction", type=float, default=None,
                    help="drop docs whose fraction of code-shaped lines "
                         "(trailing ;/braces, deep indent, keyword "
                         "prefixes) exceeds this (source dumps / "
                         "minified JS posing as prose)")
    cu.add_argument("--min-compression-ratio", type=float, default=None,
                    help="drop docs whose zlib-compressed/raw byte "
                         "ratio is below this (hyper-compressible "
                         "template spam; prose sits near ~0.4)")
    cu.add_argument("--badwords", default=None,
                    help="bad-words lexicon: comma-separated words, or "
                         "a table path with a 'word' column; docs with "
                         "any lexicon token are dropped (C4 rule)")
    cu.add_argument("--badword-max-fraction", type=float, default=None,
                    help="switch the badwords stage to the density "
                         "rule: drop only docs whose lexicon-token "
                         "fraction exceeds this")
    cu.add_argument("--c4-clean", action="store_true",
                    help="C4 line-quality cleaning before dedup: drop "
                         "short / unpunctuated / javascript lines per "
                         "doc; drop lorem-ipsum and brace docs whole")
    cu.add_argument("--c4-min-line-words", type=int, default=3)
    cu.add_argument("--c4-no-terminal-punct", action="store_true",
                    help="keep lines regardless of terminal punctuation "
                         "(corpora whose prose is not sentence-"
                         "punctuated)")
    cu.add_argument("--dsir-target", default=None,
                    help="target-domain table (text column); train a DSIR "
                         "hashed-bigram importance model against the kept "
                         "corpus and keep only the top-weighted docs")
    cu.add_argument("--dsir-keep-fraction", type=float, default=0.5,
                    help="fraction of docs the DSIR stage keeps "
                         "(default 0.5)")
    cu.add_argument("--temperature", type=float, default=None,
                    help="derive mixing fractions from the curated "
                         "corpus's stratum masses (n^alpha; mutually "
                         "exclusive with --fractions)")
    cu.add_argument("--temperature-weight-col", default=None,
                    help="weight the temperature mass by this column's "
                         "sum instead of doc count")
    cu.add_argument("--epochs", default=None,
                    help="mixture upsampling, e.g. en=2.5,de=1.0: "
                         "replicate strata to fractional epoch counts "
                         "(weights may exceed 1; mutually exclusive "
                         "with --fractions/--temperature); output rows "
                         "carry an epoch column")
    cu.set_defaults(fn=cmd_curate)

    tc = sub.add_parser("train-classifier",
                        help="train the learned quality filter on a "
                             "labeled parquet table")
    tc.add_argument("--input", required=True,
                    help="parquet with text + 0/1 label columns")
    tc.add_argument("--output", required=True,
                    help="where to write the coefficient JSON")
    tc.add_argument("--label-col", default="label")
    tc.add_argument("--text-col", default="text")
    tc.add_argument("--max-iter", type=int, default=50)
    tc.add_argument("--reg-param", type=float, default=0.0)
    tc.add_argument("--feature-set", choices=["base", "extended"],
                    default="base",
                    help="extended adds readability/code/entropy "
                         "features; the bundle records its names, so "
                         "scoring follows the bundle either way")
    tc.set_defaults(fn=cmd_train_classifier)

    g = sub.add_parser("gen-pages", help="deterministic pages fixture")
    g.add_argument("--output", required=True)
    g.add_argument("--docs", type=int, required=True)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--files", type=int, default=8, help="number of parquet files")
    g.set_defaults(fn=cmd_gen_pages)

    z = sub.add_parser("package", help="build --py-files zip")
    z.add_argument("--dest", default="dist")
    z.set_defaults(fn=cmd_package)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
