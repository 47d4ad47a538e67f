"""YamlHWMStore file format: libyaml parse/emit writes the text PyYAML's
pure-Python ``safe_dump`` writes, and files from either load equal."""

from datetime import datetime

import pytest
import yaml

from onetl_spark.hwm.store import YamlHWMStore
from onetl_spark.hwm.types import HWM, ColumnDateTimeHWM, FileListHWM, KeyValueIntHWM

LONG = "/landing/" + "p" * 200 + ".csv"
FOLDED = "/landing/" + "- word " * 30 + ".csv"  # long enough to span lines


def file_list_steps():
    hwm = FileListHWM(name="files", entity="/landing")
    for k in range(12):
        hwm.update([f"/landing/batch_{k:04d}_{j}.csv" for j in range(3)] + [f"/landing/données_{k}/été ü.csv", LONG, FOLDED])
        yield hwm


def datetime_steps():
    hwm = ColumnDateTimeHWM(name="events.ts", entity="events", expression="ts")
    for k in range(12):
        hwm.update(datetime(2024, 1, 1 + k, 12, 30, 15, 250 * k))
        yield hwm


def key_value_steps():
    hwm = KeyValueIntHWM(name="topic", entity="topic", expression="offset")
    for k in range(12):
        hwm.update({p: 100 * k + p for p in range(3)})
        yield hwm


STEPS = [file_list_steps, datetime_steps, key_value_steps]


def write_history(store, steps):
    """set_hwm each step; returns what each call serialized, newest first."""
    written = []
    for hwm in steps():
        store.set_hwm(hwm)
        written.insert(0, hwm.serialize())
    return written


@pytest.mark.parametrize("steps", STEPS)
def test_store_file_is_what_safe_dump_writes(tmp_path, steps):
    store = YamlHWMStore(str(tmp_path))
    written = write_history(store, steps)
    name = written[0]["name"]
    with open(store._file_for(name)) as f:
        text = f.read()
    history = written[: YamlHWMStore.MAX_HISTORY]
    assert text == yaml.safe_dump(history, sort_keys=False)
    assert yaml.safe_load(text) == history
    assert store.get_hwm(name) == HWM.deserialize(written[0])


@pytest.mark.parametrize("steps", STEPS)
def test_store_loads_a_file_written_by_pure_python_yaml(tmp_path, steps):
    store = YamlHWMStore(str(tmp_path))
    old = [hwm.serialize() for hwm in steps()][::-1][: YamlHWMStore.MAX_HISTORY]
    name = old[0]["name"]
    with open(store._file_for(name), "w") as f:
        yaml.safe_dump(old, f, sort_keys=False)

    assert store.get_hwm(name) == HWM.deserialize(old[0])
    newest = store.get_hwm(name)
    store.set_hwm(newest)
    with open(store._file_for(name)) as f:
        assert yaml.safe_load(f) == [newest.serialize()] + old[:-1]


@pytest.mark.skipif(not yaml.__with_libyaml__, reason="PyYAML built without libyaml")
def test_store_parses_and_emits_only_the_newest_entry_through_libyaml(tmp_path, monkeypatch):
    store = YamlHWMStore(str(tmp_path))
    written = write_history(store, file_list_steps)
    used = []
    load, dump = yaml.load, yaml.dump

    def spy_load(stream, Loader):
        data = load(stream, Loader=Loader)
        used.append((Loader, len(data)))
        return data

    def spy_dump(data, stream=None, Dumper=None, **kwargs):
        used.append((Dumper, len(data)))
        return dump(data, stream, Dumper=Dumper, **kwargs)

    monkeypatch.setattr(yaml, "load", spy_load)
    monkeypatch.setattr(yaml, "dump", spy_dump)
    newest = store.get_hwm("files")
    assert newest == HWM.deserialize(written[0])
    store.set_hwm(newest)
    assert used == [(yaml.CSafeLoader, 1), (yaml.CSafeDumper, 1)]


def test_store_reads_a_history_in_another_yaml_layout(tmp_path):
    store = YamlHWMStore(str(tmp_path))
    history = [hwm.serialize() for hwm in datetime_steps()][::-1][:3]
    with open(store._file_for("events.ts"), "w") as f:
        f.write("# edited by hand\n")
        yaml.safe_dump(history, f, sort_keys=False, default_flow_style=True)

    newest = store.get_hwm("events.ts")
    assert newest == HWM.deserialize(history[0])
    store.set_hwm(newest)
    with open(store._file_for("events.ts")) as f:
        text = f.read()
    assert text == yaml.safe_dump([newest.serialize()] + history, sort_keys=False)


def test_store_without_pyyaml_keeps_a_json_history(tmp_path, monkeypatch):
    import json

    from onetl_spark.hwm import store as store_module

    monkeypatch.setattr(store_module, "yaml", None)
    store = YamlHWMStore(str(tmp_path))
    written = write_history(store, key_value_steps)
    assert store._file_for("topic").endswith(".json")
    with open(store._file_for("topic")) as f:
        assert json.load(f) == written[: YamlHWMStore.MAX_HISTORY]
    assert store.get_hwm("topic") == HWM.deserialize(written[0])
