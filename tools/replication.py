"""Replication driver — Spark twin of scripts/osm2pgsql-replication.

Reference: the 750-line script initialises replication from the import
file's PBF header or the database, tracks (base_url, sequence,
timestamp) in the osm2pgsql_properties table, and per update run
downloads diffs in --max-diff-size batches, applying each batch with
`osm2pgsql --append` (scripts/osm2pgsql-replication:406-476 init,
:478-600 update).  Here the state lives in a Properties JSON, the
server protocol is osm2pgsql_spark.streaming.replication (pluggable
fetch — file:// trees work offline), and each diff of a batch is
applied, in sequence order, by the import tool's append
(tools/import_tool.py cmd_append) in this tool's Spark session.

Usage:
  # init from an explicit sequence, a server, or a PBF's replication header
  python tools/replication.py init STATE.json --seq N [--server URL]
  python tools/replication.py init STATE.json --osm-file file.osm.pbf

  # catch up against the configured server (file:// or http(s))
  python tools/replication.py update STATE.json BASE_DIR
      [--server URL] [--max-diff-size MB] [--once]

  # legacy: replay a flat directory of NNN.osc(.gz) files
  python tools/replication.py apply STATE.json BASE_DIR DIFF_DIR

  python tools/replication.py status STATE.json [--json]

BASE_DIR is a database written by tools/import_tool.py; each diff is
appended to it with the style and output recorded in its
properties.json.  STATE may be that same properties.json, as the
reference keeps the replication state in the database's
osm2pgsql_properties table.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
# before any Spark session: import_tool puts the repo on sys.path and
# on the PYTHONPATH the executors' Python workers inherit
import import_tool  # noqa: E402

DEFAULT_SERVER = "https://planet.openstreetmap.org/replication/minute"


def cmd_init(args) -> None:
    from osm2pgsql_spark.streaming.properties import Properties
    from osm2pgsql_spark.streaming.replication import (
        ReplicationServer, osm_date, replication_header_from_pbf,
    )

    p = Properties(args.state)

    if args.osm_file:
        base_url, seq, ts = replication_header_from_pbf(args.osm_file)
        if base_url is None or (seq is None and ts is None):
            raise SystemExit(
                f"File '{args.osm_file}' has no usable replication headers. "
                "Use '--server' instead."
            )
        if args.server:
            base_url = args.server
        if seq is None:
            # date-only header: resolve the sequence on the server
            seq = ReplicationServer(base_url).timestamp_to_sequence(ts)
            if seq is None:
                raise SystemExit(
                    f"Cannot resolve a sequence for {osm_date(ts)} on '{base_url}'."
                )
        p.set("replication_base_url", base_url)
        p.update_replication_state(seq, osm_date(ts) if ts else "")
        print(f"initialized {args.state} from PBF header: "
              f"server {base_url}, sequence {seq}")
        return

    if args.seq is not None:
        # extension over the reference CLI: pin an explicit sequence
        # with no server round-trip (offline staging)
        if args.server:
            p.set("replication_base_url", args.server)
        p.update_replication_state(args.seq, args.timestamp or "")
        print(f"initialized {args.state} at sequence {args.seq}")
        return

    # reference init (scripts/osm2pgsql-replication:404-473): derive
    # (server, seq, date) from stored replication info, the database
    # date, or --start-at; then verify against the server's state
    base_url, seq, date = _replication_base(p, args.server, args.start_at)
    repl = ReplicationServer(base_url)
    if seq is None:
        seq = repl.timestamp_to_sequence(date)
        if seq is None:
            raise SystemExit(
                f"Cannot reach the configured replication service '{base_url}'.\n"
                "Does the URL point to a directory containing OSM update data?")
    state = repl.get_state_info(seq)
    if state is None:
        extra = (
            f"The server may not have diffs going as far back as "
            f"{osm_date(date)}." if date is not None else
            "Does the URL point to a directory containing OSM update data?")
        raise SystemExit(
            f"Cannot load state information for {seq} from replication "
            f"service {base_url}.\n" + extra)
    if date is None:
        date = state.timestamp
    elif state.timestamp is not None and state.timestamp > date:
        # sanity check: is the sequence in line with the date requested?
        raise SystemExit(
            "The replication service does not have diff files for the "
            f"requested date.\nReplication service used: {base_url}\n"
            f"Most recent diffs available start at: "
            f"{osm_date(state.timestamp)}\nDatabase date: {osm_date(date)}")
    p.set("replication_base_url", base_url)
    p.update_replication_state(seq, osm_date(date) if date else "")
    print(f"Initialised updates for service '{base_url}'.")
    print(f"Starting at sequence {seq} "
          f"({osm_date(date) if date else 'unknown date'}).")


def _replication_base(p, server: str | None, start_at):
    """(server, seq, date) for init — the reference's
    get_replication_base (scripts/osm2pgsql-replication:167-193):
    stored replication info wins unless --server overrides it or
    --start-at forces the database-date path; an integer --start-at is
    the rollback in minutes (default 180) applied to the database's
    newest object timestamp."""
    import datetime as dt

    from osm2pgsql_spark.streaming.replication import from_osm_date

    seq = date = None
    if server is None:
        server = p.get("replication_base_url")
        if server:
            seq = p.get("replication_sequence_number")
            d = p.get("replication_timestamp")
            date = from_osm_date(d) if d else None
        else:
            server = DEFAULT_SERVER
    if isinstance(start_at, dt.datetime):
        return server, None, start_at
    if seq is None or isinstance(start_at, int):
        d = p.get("current_timestamp")
        if d is None:
            raise SystemExit("Cannot get timestamp from database. "
                             "Use --start-at to set an explicit date.")
        date = from_osm_date(d) - dt.timedelta(minutes=start_at or 180)
        seq = None
    else:
        seq = int(seq)
    return server, seq, date


def _start_point(param: str):
    """--start-at: integer = rollback minutes, else an ISO timestamp
    (the reference's start_point, scripts/osm2pgsql-replication:89-99)."""
    import datetime as dt

    if param.isdigit():
        return int(param)
    try:
        d = dt.datetime.fromisoformat(param.replace("Z", "+00:00"))
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"Invalid timestamp '{param}'. Use ISO format like "
            "2007-08-20T12:21:53Z or a number of minutes.")
    if d.tzinfo is None:
        d = d.replace(tzinfo=dt.timezone.utc)
    return d


def _append_diffs(spark, base_dir: str, paths) -> None:
    """Append .osc(.gz) files in order to the import database at
    base_dir, each one osm2pgsql --append run (reference update loop,
    scripts/osm2pgsql-replication:478-600)."""
    from osm2pgsql_spark.streaming.properties import Properties

    props = Properties(os.path.join(base_dir, "properties.json"))
    style = props.get("style")
    opts = ["-O", props.get("output") or "flex"]
    if style and style != "generic":
        opts += ["-S", style]
    for path in paths:
        import_tool.cmd_append(import_tool.arg_parser().parse_args(
            [path, base_dir, "--append", *opts]), spark)


def cmd_update(args) -> None:
    from osm2pgsql_spark.session import get_spark
    from osm2pgsql_spark.streaming.properties import Properties
    from osm2pgsql_spark.streaming.replication import ReplicationServer, osm_date

    props = Properties(args.state)
    base_url = args.server or props.get("replication_base_url")
    stored_seq = props.get("replication_sequence_number")
    if not base_url or stored_seq is None:
        raise SystemExit("Updates not set up correctly. "
                         "Run 'osm2pgsql-replication init' first.")
    seq = int(stored_seq)
    repl = ReplicationServer(base_url)
    current = repl.get_state_info()
    if current is None:
        raise SystemExit(f"Cannot reach the replication service '{base_url}'.")
    if seq >= current.sequence:
        print(f"Database already up-to-date at sequence {seq}.")
        return

    spark = get_spark("osm2pgsql-replication")
    spark.sparkContext.setLogLevel("ERROR")

    while seq < current.sequence:
        batch = repl.collect_diffs(seq + 1, max_size_kb=args.max_diff_size * 1024)
        if batch is None:
            print(f"sequence {seq + 1} not available on the server; stopping")
            break
        endseq, diffs = batch
        with tempfile.TemporaryDirectory() as td:
            paths = []
            for dseq, blob in diffs:
                p = os.path.join(td, f"{dseq}.osc.gz")
                with open(p, "wb") as fh:
                    fh.write(blob)
                paths.append(p)
            _append_diffs(spark, args.base_dir, paths)
        # state advances once per BATCH, like one osm2pgsql run per
        # downloaded chunk in the reference update loop.  Re-read: STATE
        # may be the database's properties.json the appends just wrote
        st = repl.get_state_info(endseq)
        ts = osm_date(st.timestamp) if st and st.timestamp else ""
        Properties(args.state).update_replication_state(endseq, ts)
        print(f"applied sequences {seq + 1}..{endseq} ({len(diffs)} diffs)")
        seq = endseq
        if args.once:
            break
    print(f"state now at sequence {seq}")


def cmd_status(args) -> None:
    """Reference status semantics (scripts/osm2pgsql-replication:
    313-402): exit code IS the status — 0 ok, 2 replication not set
    up, 3 network trouble; --json emits the same object shape."""
    import datetime as dt

    from osm2pgsql_spark.streaming.properties import Properties
    from osm2pgsql_spark.streaming.replication import (
        ReplicationServer, from_osm_date, osm_date)

    props = Properties(args.state)
    base_url = props.get("replication_base_url")
    stored_seq = props.get("replication_sequence_number")
    ts = props.get("replication_timestamp")
    if not base_url or stored_seq is None:
        results = {"status": 2,
                   "error": "Updates not set up correctly. "
                            "Run 'osm2pgsql-replication init' first."}
    else:
        seq = int(stored_seq)
        results = {"status": 0, "server": {"base_url": base_url},
                   "local": {"sequence": seq}}
        if ts:
            results["local"]["timestamp"] = ts
        st = ReplicationServer(base_url).get_state_info()
        if st is None:
            results["status"] = 3
            results["error"] = (
                f"Unable to download the state information from {base_url}")
        else:
            now = dt.datetime.now(dt.timezone.utc)
            results["server"]["sequence"] = st.sequence
            if st.timestamp is not None:
                results["server"]["timestamp"] = osm_date(st.timestamp)
                results["server"]["age_sec"] = int(
                    (now - st.timestamp).total_seconds())
            if ts:
                results["local"]["age_sec"] = int(
                    (now - from_osm_date(ts)).total_seconds())
    if args.json:
        print(json.dumps(results))
    elif results["status"] != 0:
        print(results["error"], file=sys.stderr)
    else:
        srv = results["server"]
        print(f"Using replication service '{srv['base_url']}', which is "
              f"at sequence {srv.get('sequence')} "
              f"( {srv.get('timestamp', '?')} )")
        behind = srv.get("sequence", 0) - results["local"]["sequence"]
        if behind <= 0:
            print("Local database is up to date with server")
        else:
            print(f"Local database is {behind} sequences behind the server")
    sys.exit(results["status"])


def cmd_apply(args) -> None:
    from osm2pgsql_spark.session import get_spark
    from osm2pgsql_spark.streaming.properties import Properties

    props = Properties(args.state)
    seq = int(props.get("replication_sequence_number", "0"))

    pending = []
    for fn in os.listdir(args.diff_dir):
        m = re.match(r"^(\d+)\.osc(\.gz)?$", fn)
        if m and int(m.group(1)) > seq:
            pending.append((int(m.group(1)), os.path.join(args.diff_dir, fn)))
    pending.sort()
    if not pending:
        print(f"up to date at sequence {seq}")
        return

    spark = get_spark("osm2pgsql-replication")
    spark.sparkContext.setLogLevel("ERROR")
    _append_diffs(spark, args.base_dir, [p for _, p in pending])
    seq = pending[-1][0]
    print(f"applied {len(pending)} diffs")
    Properties(args.state).update_replication_state(seq, "")
    print(f"state now at sequence {seq}")


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    p_init = sub.add_parser("init")
    p_init.add_argument("state")
    p_init.add_argument("--seq", type=int)
    p_init.add_argument("--timestamp", default="")
    p_init.add_argument("--server")
    p_init.add_argument("--osm-file")
    p_init.add_argument(
        "--start-at", metavar="TIME", type=_start_point, default=None,
        help="absolute ISO timestamp to start at, or number of minutes "
        "to rollback from the database date (default 180)")
    p_init.set_defaults(fn=cmd_init)
    p_upd = sub.add_parser("update")
    p_upd.add_argument("state")
    p_upd.add_argument("base_dir")
    p_upd.add_argument("--server")
    p_upd.add_argument("--max-diff-size", type=int, default=500,
                       help="max size in MB for diffs per batch (default 500)")
    p_upd.add_argument("--once", action="store_true",
                       help="apply at most one batch")
    p_upd.set_defaults(fn=cmd_update)
    p_stat = sub.add_parser("status")
    p_stat.add_argument("state")
    p_stat.add_argument("--json", action="store_true")
    p_stat.set_defaults(fn=cmd_status)
    p_apply = sub.add_parser("apply")
    p_apply.add_argument("state")
    p_apply.add_argument("base_dir")
    p_apply.add_argument("diff_dir")
    p_apply.set_defaults(fn=cmd_apply)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
