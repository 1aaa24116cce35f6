#!/usr/bin/env python3
"""Times the REFERENCE loader's normalization throughput (events/sec).

Feeds it the line shapes of graft's deterministic lake corpus
(`graft.queries.OcsfLake.line`), through the real ocsfQfdrMapper (AWS
clients and sendToSqs stubbed to no-ops), i.e. the pure per-line CPU
work the reference Lambda does between S3 read and SQS write. For
graft's end-to-end number run the benchmark's `etl_backfill` workload,
`python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 2
--trace 0`, which reports `etl_events_per_s` (it additionally includes
gz decompression, classification AND the committed partitioned parquet
fan-out — a strictly larger scope).

Usage: ref_etl_bench.py [n_events]
"""

import json
import sys
import time

sys.path.insert(0, "/root/repo/tools")
from normalizer_diff import load_reference_module  # noqa: E402


def line(i):
    ts = 1700000000000 + i
    shapes = [
        lambda: {"event_simpleName": "ProcessRollup2", "name": "ProcessRollup2V19",
                 "aid": f"aid-{i}", "cid": f"cid-{i % 97}", "id": f"e-{i}",
                 "aip": f"10.0.{i % 256}.{(i // 256) % 256}", "timestamp": str(ts),
                 "event_platform": "Win", "ImageFileName": f"C:\\W\\cmd{i}.exe",
                 "CommandLine": f"cmd /c job {i}", "SHA256HashData": f"{i}a",
                 "RawProcessId": str(1000 + i % 50000), "ParentBaseFileName": "explorer.exe"},
        lambda: {"event_simpleName": "NetworkConnectIP4", "name": "NetworkConnectIP4V10",
                 "aid": f"aid-{i}", "cid": f"cid-{i % 97}", "id": f"e-{i}",
                 "timestamp": str(ts), "event_platform": "Lin",
                 "LocalPort": str(1024 + i % 60000), "RemotePort": "443",
                 "RemoteAddressIP4": f"93.184.{i % 256}.{(i // 7) % 256}",
                 "LocalAddressIP4": f"10.0.0.{i % 256}", "ConnectionDirection": str(i % 4)},
        lambda: {"event_simpleName": "DnsRequest", "name": "DnsRequestV4",
                 "aid": f"aid-{i}", "cid": f"cid-{i % 97}", "id": f"e-{i}",
                 "timestamp": str(ts), "event_platform": "Mac",
                 "DomainName": f"host{i % 5000}.example.com",
                 "ContextBaseFileName": f"proc{i % 11}"},
        lambda: {"event_simpleName": "UserLogon", "name": "UserLogonV10",
                 "aid": f"aid-{i}", "cid": f"cid-{i % 97}", "id": f"e-{i}",
                 "timestamp": str(ts), "event_platform": "Win",
                 "UserName": f"user{i % 500}", "UserSid": f"S-1-5-{i}",
                 "LogonType": str(2 + i % 11), "UserIsAdmin": str(i % 2)},
        lambda: {"event_simpleName": "HttpRequest", "name": "HttpRequestV1",
                 "aid": f"aid-{i}", "cid": f"cid-{i % 97}", "id": f"e-{i}",
                 "timestamp": str(ts), "event_platform": "Lin",
                 "HttpMethod": str(1 + i % 8), "HttpHost": f"api{i % 31}.example.com",
                 "HttpPath": f"/v1/r/{i}", "HttpStatus": "404" if i % 9 == 0 else "200"},
        lambda: {"event_simpleName": "NewScriptWritten", "name": "NewScriptWrittenV1",
                 "aid": f"aid-{i}", "cid": f"cid-{i % 97}", "id": f"e-{i}",
                 "timestamp": str(ts), "event_platform": "Lin",
                 "TargetFileName": f"/tmp/s{i}.sh", "TargetDirectoryName": "/tmp",
                 "UserName": f"svc{i % 17}", "ContentSHA256HashData": f"{i}b"},
        lambda: {"event_simpleName": "KextLoad", "name": "KextLoadV1",
                 "aid": f"aid-{i}", "cid": f"cid-{i % 97}", "id": f"e-{i}",
                 "timestamp": str(ts), "event_platform": "Mac",
                 "BundleID": f"com.example.k{i % 29}", "ImageFileName": f"/L/E/k{i}.kext",
                 "SHA256HashData": f"{i}c"},
        lambda: {"event_simpleName": "InstalledApplication", "name": "InstalledApplicationV1",
                 "aid": f"aid-{i}", "cid": f"cid-{i % 97}", "id": f"e-{i}",
                 "timestamp": str(ts), "event_platform": "Win",
                 "UpdateFlag": str(i % 6), "AppName": f"App{i % 200}",
                 "AppVendor": f"Vendor{i % 40}", "AppVersion": f"1.{i % 30}"},
        lambda: {"event_simpleName": "InstalledUpdates", "name": "InstalledUpdatesV1",
                 "aid": f"aid-{i}", "cid": f"cid-{i % 97}", "id": f"e-{i}",
                 "timestamp": str(ts), "event_platform": "Win",
                 "Status": str(i % 2), "InstalledUpdateIds": f"KB{i};KB{i + 1}"},
        lambda: {"event_simpleName": "LFODownloadConfirmation",
                 "name": "LFODownloadConfirmationV1",
                 "aid": f"aid-{i}", "cid": f"cid-{i % 97}", "id": f"e-{i}",
                 "timestamp": str(ts), "event_platform": "Win",
                 "SourceFileName": f"f{i}.bin", "SHA256HashData": f"{i}d",
                 "DownloadServer": f"lfo{i % 7}.example.com", "DownloadPort": "443"},
        lambda: {"event_simpleName": "ScriptControlDetectInfo",
                 "name": "ScriptControlDetectInfoV1",
                 "aid": f"aid-{i}", "cid": f"cid-{i % 97}", "id": f"e-{i}",
                 "timestamp": str(ts), "event_platform": "Win",
                 "ImageFileName": f"ps{i}.exe", "CommandLine": f"ps -enc {i}",
                 "ContentSHA256HashData": f"{i}e", "ContextProcessId": str(i),
                 "ParentImageFileName": "cmd.exe"},
        lambda: {"event_simpleName": "SensorHeartbeat", "name": "SensorHeartbeatV4",
                 "aid": f"aid-{i}", "cid": f"cid-{i % 97}", "id": f"e-{i}",
                 "timestamp": str(ts), "event_platform": "Win",
                 "ConfigBuild": f"1007.{i % 10}"},
        lambda: {"event_simpleName": "Event_ExternalApiEvent",
                 "ExternalApiType": "Event_AuthActivityAuditEvent",
                 "UTCTimestamp": str(ts // 1000), "UserIp": f"9.9.{i % 256}.9",
                 "AgentIdString": f"aid-{i}", "cid": f"cid-{i % 97}",
                 "UserId": f"u{i}@example.com", "CustomerIdString": f"cust-{i % 5}",
                 "AuditKeyValues": [
                     {"Key": "request_method", "ValueString": "GET"},
                     {"Key": "status_code", "ValueString": "200"},
                     {"Key": "trace_id", "ValueString": f"t-{i}"},
                     {"Key": "request_path", "ValueString": f"/v1/{i}"}]},
    ]
    return shapes[i % 13]()


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200000
    mod = load_reference_module("/root/reference/src/python/qopcfdr_stream_loader.py")
    mod.sendToSqs = lambda className=None, payload=None: None
    mapped = {x["EventName"] for x in mod.QFDR_OCSF_NORMALIZATION}

    # pre-serialize so the timed loop includes the same json.loads work
    # the reference's processObject does per line
    lines = [json.dumps(line(i)) for i in range(n)]

    t0 = time.perf_counter()
    processed = 0
    for raw in lines:
        obj = json.loads(raw)
        ev = obj.get("event_simpleName", obj.get("event_type", obj.get("EventType")))
        if ev is None or ev not in mapped:
            continue
        mod.ocsfQfdrMapper(eventName=ev, payload=obj)
        processed += 1
    sec = time.perf_counter() - t0
    print(json.dumps({"metric": "ref_etl_events_per_sec",
                      "value": round(processed / sec, 1),
                      "events": processed, "seconds": round(sec, 1)}))


if __name__ == "__main__":
    main()
